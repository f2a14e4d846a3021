package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Text-analysis operators for training-data pipelines (SURVEY §2.I5/I6/I8):
  * token statistics, tf-idf, n-gram language ID, quality scoring, token
  * counting, and winnowing-style document fingerprinting. Everything is
  * per-document map work + keyed aggregation — embarrassingly parallel at
  * 100 TB (no all-pairs stage anywhere).
  */
object TextQueries extends QueryModule {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")
  private val stopArr = s"array(${stopwords.map(s => s"'$s'").mkString(", ")})"
  private val stopList = s"[${stopwords.map(s => s"'$s'").mkString(", ")}]"

  /** I5: per-document token stats rolled up per language. */
  private val textStats = QueryDef(
    "q_text_stats",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_toks", size(col("toks")))
        .withColumn("n_uniq", size(array_distinct(col("toks"))))
        .withColumn("n_stop", expr(s"size(filter(toks, x -> array_contains($stopArr, x)))"))
        .withColumn("sum_len", expr("aggregate(transform(toks, x -> length(x)), 0, (acc, x) -> acc + x)"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_toks"),
          Ql.r(avg(col("n_toks"))).as("avg_toks"),
          Ql.r(avg(col("n_uniq") / col("n_toks").cast("double")), 4).as("avg_uniq_ratio"),
          Ql.r(avg(col("n_stop") / col("n_toks").cast("double")), 4).as("avg_stop_ratio"),
          Ql.r(avg(col("sum_len") / col("n_toks").cast("double")), 4).as("avg_tok_len"))
        .orderBy("lang"),
    Some(s"""
      WITH d AS (
        SELECT lang, len(toks) AS n_toks,
               len(list_distinct(toks)) AS n_uniq,
               len(list_filter(toks, x -> list_contains($stopList, x))) AS n_stop,
               list_sum(list_transform(toks, x -> length(x))) AS sum_len
        FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents))
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS total_toks,
             ${Ql.R("avg(n_toks)")} AS avg_toks,
             ${Ql.R("avg(n_uniq / CAST(n_toks AS DOUBLE))", 4)} AS avg_uniq_ratio,
             ${Ql.R("avg(n_stop / CAST(n_toks AS DOUBLE))", 4)} AS avg_stop_ratio,
             ${Ql.R("avg(sum_len / CAST(n_toks AS DOUBLE))", 4)} AS avg_tok_len
      FROM d GROUP BY 1 ORDER BY 1
    """))

  /** I5: tf-idf — top 3 terms per document (doc_id<30) by tf·ln(N/df).
    * df from an inverted index; no ML pipeline, plain relational algebra.
    */
  private val tfidf = QueryDef(
    "q_tfidf",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, sfDir)
      // corpus size as a broadcast scalar, not a driver-side action
      val nDf = docs.agg(count(lit(1)).cast("double").as("n"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
      tf.join(df, "tok")
        .filter(col("doc_id") < 30)
        .crossJoin(broadcast(nDf))
        .withColumn("tfidf", Ql.r(col("tf") * log(col("n") / col("df")), 4))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("tok"), col("tfidf"))
        .orderBy("doc_id", "rank")
    },
    Some(s"""
      WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1, 2),
      df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
      SELECT doc_id,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS INT) AS rank,
             tok, tfidf
      FROM (SELECT tf.doc_id, tf.tok, ${Ql.R("tf.tf * ln(n.n / df.df)", 4)} AS tfidf
            FROM tf JOIN df ON tf.tok = df.tok, n
            WHERE tf.doc_id < 30)
      QUALIFY rank <= 3
      ORDER BY doc_id, rank
    """))

  /** Oracle twin of [[langConfusion]] — CTE chain ending in
    * `confusion(lang, pred, n)`.
    */
  private[operators] val langConfusionSql = """dt AS (
        SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      prof AS (
        SELECT plang, tok FROM (
          SELECT lang AS plang, tok, count(*) AS docfreq
          FROM dt GROUP BY 1, 2)
        QUALIFY row_number() OVER (PARTITION BY plang ORDER BY docfreq DESC, tok) <= 20),
      preds AS (
        SELECT doc_id, plang FROM (
          SELECT dt2.doc_id, prof.plang, count(*) AS overlap
          FROM dt dt2 JOIN prof ON dt2.tok = prof.tok
          GROUP BY 1, 2)
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, plang) = 1),
      confusion AS (
        SELECT d.lang, coalesce(p.plang, '??') AS pred, count(*) AS n
        FROM documents d LEFT JOIN preds p ON d.doc_id = p.doc_id
        GROUP BY 1, 2)"""

  /** I6: n-gram-heuristic language ID. Profiles = top-20 tokens per lang by
    * document frequency (learned from the corpus itself — a deterministic
    * stand-in for trained profiles); prediction = profile with the largest
    * token-set overlap. Output: confusion matrix.
    */
  private val langId = QueryDef(
    "q_lang_id",
    (spark, sfDir) => langConfusion(spark, sfDir).orderBy("lang", "pred"),
    Some(s"""
      WITH $langConfusionSql
      SELECT lang, pred, n FROM confusion ORDER BY 1, 2
    """))

  /** The lang-ID confusion pipeline (n-gram-profile predictor vs the
    * ground-truth lang column) through the (actual, predicted, n)
    * matrix — shared by q_lang_id and q_lang_id_f1 so the graded
    * classifier is the served one.
    */
  private[operators] def langConfusion(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val docToks = docs
      .select(col("doc_id"), col("lang"), explode(array_distinct(split(col("text"), " "))).as("tok"))
    val wProf = Window.partitionBy("plang").orderBy(col("docfreq").desc, col("tok"))
    val profiles = docToks
      .groupBy(col("lang").as("plang"), col("tok"))
      .agg(count(lit(1)).as("docfreq"))
      .withColumn("prank", row_number().over(wProf))
      .filter(col("prank") <= 20)
      .select(col("plang"), col("tok"))
    val wPred = Window.partitionBy("doc_id").orderBy(col("overlap").desc, col("plang"))
    val preds = docToks
      .join(broadcast(profiles), "tok")
      .groupBy("doc_id", "lang", "plang")
      .agg(count(lit(1)).as("overlap"))
      .withColumn("rank", row_number().over(wPred))
      .filter(col("rank") === 1)
    docs.select(col("doc_id"), col("lang"))
      .join(preds.select(col("doc_id"), col("plang")), Seq("doc_id"), "left")
      .groupBy(col("lang"), coalesce(col("plang"), lit("??")).as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-class precision / recall / F1 of the lang-ID heuristic against
    * the ground-truth lang column — the classifier QUALITY metric over
    * the shared [[langConfusion]] matrix (the routing decision
    * q_lang_route makes is only as good as this table says it is).
    * Everything reduces over the langs² confusion matrix, so the metric
    * costs nothing beyond the confusion build; zero-denominator classes
    * report 0.0 in both engines (the division-degeneracy contract).
    */
  private val langIdF1 = QueryDef(
    "q_lang_id_f1",
    (spark, sfDir) => scope {
      val conf = langConfusion(spark, sfDir).truncated
      val tp = conf.filter(col("lang") === col("pred"))
        .select(col("lang"), col("n").as("tp"))
      val actual = conf.groupBy("lang").agg(sum(col("n")).as("actual_n"))
      val predicted = conf.groupBy(col("pred").as("lang"))
        .agg(sum(col("n")).as("pred_n"))
      val out = actual
        .join(predicted, Seq("lang"), "left")
        .join(tp, Seq("lang"), "left")
        .withColumn("tp", coalesce(col("tp"), lit(0L)))
        .withColumn("pred_n", coalesce(col("pred_n"), lit(0L)))
        .withColumn("p", when(col("pred_n") > 0, col("tp") / col("pred_n")).otherwise(lit(0.0)))
        .withColumn("r", when(col("actual_n") > 0, col("tp") / col("actual_n")).otherwise(lit(0.0)))
        .select(col("lang"), col("actual_n"), col("tp"),
          Ql.r(col("p"), 4).as("precision"),
          Ql.r(col("r"), 4).as("recall"),
          Ql.r(when(col("p") + col("r") > 0,
            lit(2.0) * col("p") * col("r") / (col("p") + col("r"))).otherwise(lit(0.0)), 4).as("f1"))
        .orderBy("lang")
      out.checkpointed
    },
    Some(s"""
      WITH $langConfusionSql,
      tp AS (SELECT lang, n AS tp FROM confusion WHERE lang = pred),
      act AS (SELECT lang, sum(n) AS actual_n FROM confusion GROUP BY 1),
      prd AS (SELECT pred AS lang, sum(n) AS pred_n FROM confusion GROUP BY 1),
      m AS (
        SELECT a.lang, a.actual_n,
               coalesce(tp.tp, 0) AS tp,
               CASE WHEN coalesce(p.pred_n, 0) > 0
                    THEN coalesce(tp.tp, 0) * 1.0 / p.pred_n ELSE 0.0 END AS p,
               CASE WHEN a.actual_n > 0
                    THEN coalesce(tp.tp, 0) * 1.0 / a.actual_n ELSE 0.0 END AS r
        FROM act a
          LEFT JOIN prd p ON p.lang = a.lang
          LEFT JOIN tp ON tp.lang = a.lang)
      SELECT lang, CAST(actual_n AS BIGINT) AS actual_n, CAST(tp AS BIGINT) AS tp,
             ${Ql.R("p", 4)} AS precision,
             ${Ql.R("r", 4)} AS recall,
             ${Ql.R("CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END", 4)} AS f1
      FROM m ORDER BY lang
    """))

  /** I8: quality scoring + filter routing — length, lexical diversity, and
    * stopword-density heuristics combined into one score, bucketed.
    */
  private val qualityScore = QueryDef(
    "q_quality_score",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_toks", size(col("toks")).cast("double"))
        .withColumn("uniq_ratio", size(array_distinct(col("toks"))) / col("n_toks"))
        .withColumn("stop_ratio",
          expr(s"size(filter(toks, x -> array_contains($stopArr, x)))") / col("n_toks"))
        .withColumn("score",
          lit(0.3) * least(col("n_toks") / 100.0, lit(1.0))
            + lit(0.4) * col("uniq_ratio")
            + lit(0.3) * (lit(1.0) - col("stop_ratio")))
        .withColumn("bucket", floor(col("score") * 10).cast("int"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n"), Ql.r(avg(col("score")), 4).as("avg_score"))
        .orderBy("lang", "bucket"),
    Some(s"""
      WITH d AS (
        SELECT lang,
               0.3 * least(n_toks / 100.0, 1.0)
                 + 0.4 * uniq_ratio + 0.3 * (1.0 - stop_ratio) AS score
        FROM (SELECT lang, CAST(len(toks) AS DOUBLE) AS n_toks,
                     len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS uniq_ratio,
                     len(list_filter(toks, x -> list_contains($stopList, x)))
                       / CAST(len(toks) AS DOUBLE) AS stop_ratio
              FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)))
      SELECT lang, CAST(floor(score * 10) AS INT) AS bucket,
             count(*) AS n, ${Ql.R("avg(score)", 4)} AS avg_score
      FROM d GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** I8 tuning: quality-threshold sweep — the q_dedup_threshold_sweep
    * instrument pointed at the quality gate instead of the dedup stage
    * (CCNet-style filter calibration, Wenzek et al. 2020, public): for
    * each cutoff t ∈ {0.4..0.8} over q_quality_score's combined score,
    * how many documents and tokens survive — the doc/token keep-rate
    * curve a corpus owner reads before picking the production cutoff.
    * The keep test is EXACT integer arithmetic: score =
    * (3·min(n,100)·n + 400·u + 300·(n−s)) / (1000·n) over token count
    * n, distinct count u, stopword count s, so score ≥ t10/10 ⇔
    * score_num ≥ t10·100·n — no float thresholding to flake an engine
    * at a cutoff boundary. One corpus scan × a 5-row literal grid.
    */
  private val qualityThresholdSweep = QueryDef(
    "q_quality_threshold_sweep",
    (spark, sfDir) => {
      val d = Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .select(
          size(col("toks")).cast("long").as("n"),
          size(array_distinct(col("toks"))).cast("long").as("u"),
          expr(s"CAST(size(filter(toks, x -> array_contains($stopArr, x))) AS BIGINT)").as("s"))
        .withColumn("score_num",
          expr("3 * least(n, 100) * n + 400 * u + 300 * (n - s)"))
      // every doc yields every grid row, so ONE aggregation produces both
      // the totals and the conditional keep sums — genuinely one corpus
      // scan, no second totals pass, no left-join backfill for empty
      // thresholds
      d.select(col("n"), col("score_num"),
          explode(expr("array(4L, 5L, 6L, 7L, 8L)")).as("t10"))
        .groupBy("t10")
        .agg(
          count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
          sum(when(col("score_num") >= col("t10") * lit(100L) * col("n"), 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(col("score_num") >= col("t10") * lit(100L) * col("n"), col("n"))
            .otherwise(0L)).as("tokens_kept"))
        .selectExpr("CAST(t10 AS DOUBLE) / 10 AS threshold",
          "n_kept", "n_docs",
          s"${Ql.R("CAST(n_kept AS DOUBLE) / n_docs", 6)} AS doc_keep_rate",
          "tokens_kept",
          s"${Ql.R("CAST(tokens_kept AS DOUBLE) / n_tokens", 6)} AS token_keep_rate")
        .orderBy("threshold")
    },
    Some(s"""
      WITH d AS (
        SELECT n, u, s, 3 * least(n, 100) * n + 400 * u + 300 * (n - s) AS score_num
        FROM (SELECT CAST(len(toks) AS BIGINT) AS n,
                     CAST(len(list_distinct(toks)) AS BIGINT) AS u,
                     CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS BIGINT) AS s
              FROM (SELECT string_split(text, ' ') AS toks FROM documents))),
      grid AS (SELECT CAST(unnest([4, 5, 6, 7, 8]) AS BIGINT) AS t10),
      k AS (
        SELECT t10, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN score_num >= t10 * 100 * n THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN score_num >= t10 * 100 * n THEN n ELSE 0 END) AS BIGINT) AS tokens_kept
        FROM d CROSS JOIN grid
        GROUP BY 1)
      SELECT CAST(t10 AS DOUBLE) / 10 AS threshold,
             n_kept, n_docs,
             ${Ql.R("CAST(n_kept AS DOUBLE) / n_docs", 6)} AS doc_keep_rate,
             tokens_kept,
             ${Ql.R("CAST(tokens_kept AS DOUBLE) / n_tokens", 6)} AS token_keep_rate
      FROM k
      ORDER BY threshold
    """))

  /** I5: token counting — whitespace tokens plus a BPE-ish estimate
    * (⌈len/4⌉ subword units per word, integer arithmetic only).
    */
  private val tokenCount = QueryDef(
    "q_token_count",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("ws_tokens", size(col("toks")).cast("long"))
        .withColumn("bpe_est",
          expr("aggregate(transform(toks, x -> (length(x) + 3) div 4), 0L, (acc, x) -> acc + x)"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("total_ws_tokens"),
          sum(col("bpe_est")).as("total_bpe_est"),
          Ql.r(avg(col("bpe_est") / col("ws_tokens").cast("double")), 4).as("avg_bpe_per_word"))
        .orderBy("source"),
    Some(s"""
      WITH d AS (
        SELECT source, CAST(len(toks) AS BIGINT) AS ws_tokens,
               CAST(list_sum(list_transform(toks, x -> (length(x) + 3) // 4)) AS BIGINT) AS bpe_est
        FROM (SELECT source, string_split(text, ' ') AS toks FROM documents))
      SELECT source, count(*) AS n_docs,
             CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
             CAST(sum(bpe_est) AS BIGINT) AS total_bpe_est,
             ${Ql.R("avg(bpe_est / CAST(ws_tokens AS DOUBLE))", 4)} AS avg_bpe_per_word
      FROM d GROUP BY 1 ORDER BY 1
    """))

  /** I5: winnowing-style fingerprinting — 3-token shingle hashes, rolling
    * min over a 4-shingle window (hex strings order like the numbers they
    * encode), distinct mins = the document's fingerprint set.
    */
  private val fingerprint = QueryDef(
    "q_fingerprint",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 100)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))")))
        .withColumnRenamed("col", "s0")
        // hash post-explode in a codegen'd projection, not in the
        // interpreted lambda (see DedupQueries.shingles)
        .withColumn("h", md5(col("s0")))
        .withColumn("fp", min(col("h")).over(w))
        .filter(col("pos") >= 3)
        .groupBy("doc_id")
        .agg(countDistinct(col("fp")).as("n_fingerprints"),
          (max(col("pos")) + 1).cast("long").as("n_shingles"))
        .orderBy("doc_id")
    },
    Some("""
      WITH sh AS (
        SELECT doc_id, i AS pos, md5(array_to_string(t[i + 1 : i + 3], ' ')) AS h
        FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 3)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents WHERE doc_id < 100)
              WHERE len(t) >= 3)),
      fps AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        FROM sh)
      SELECT doc_id, count(DISTINCT fp) AS n_fingerprints,
             CAST(max(pos) + 1 AS BIGINT) AS n_shingles
      FROM fps WHERE pos >= 3
      GROUP BY 1 ORDER BY 1
    """))

  /** I6: language routing — filter + partition counts per (lang, source),
    * the write-side `partitionBy` shape.
    */
  private val langRoute = QueryDef(
    "q_lang_route",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .filter(col("n_chars") >= 100)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy("lang", "source"),
    Some("""
      SELECT lang, source, count(*) AS n,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents WHERE n_chars >= 100
      GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** I5: BPE merge learning. The learner is an iterative distributed
    * algorithm no single SQL query can reproduce, so — like `q_misc_ids` —
    * the query emits its deterministic *invariants* as columns an oracle
    * CAN check: exactly 8 merges with dense ranks 0..7, all pairs and all
    * merged symbols distinct, and zero characters in any merge that don't
    * occur in the corpus alphabet (checked by a distributed anti-join
    * against the corpus's distinct characters — no merge can invent a
    * symbol). The exact merge sequence stays asserted in BpeSpec.
    */
  private val bpeMerges = QueryDef(
    "q_bpe_merges",
    (spark, sfDir) => {
      import spark.implicits._
      implicit val s = spark
      val docs = Tables.documents(spark, sfDir)
      val merges = graft.functions.Bpe.learnMerges(
        graft.functions.Bpe.wordTable(docs), 8)
      val mergesDf = merges.toDF() // rank, left, right — 8 driver-local rows
      val stats = mergesDf.agg(
        count(lit(1)).as("n_merges"),
        (min(col("rank")) === 0 && max(col("rank")) === 7 &&
          countDistinct(col("rank")) === 8).cast("int").as("ranks_dense"),
        (countDistinct(col("left"), col("right")) === count(lit(1)))
          .cast("int").as("pairs_unique"),
        (countDistinct(concat(col("left"), col("right"))) === count(lit(1)))
          .cast("int").as("merged_unique"))
      val alphabet = docs
        .select(explode(split(col("text"), " ")).as("w"))
        .select(explode(split(col("w"), "")).as("c"))
        .filter(length(col("c")) > 0).distinct()
      val alien = mergesDf
        .select(explode(split(
          regexp_replace(concat(col("left"), col("right")), "</w>", ""),
          "")).as("c"))
        .filter(length(col("c")) > 0).distinct()
        .join(alphabet, Seq("c"), "left_anti")
        .agg(count(lit(1)).as("n_alien_chars"))
      stats.crossJoin(alien) // 1 row × 1 row — constant-size by construction
    },
    Some("""
      SELECT CAST(8 AS BIGINT) AS n_merges,
             1 AS ranks_dense, 1 AS pairs_unique, 1 AS merged_unique,
             CAST(0 AS BIGINT) AS n_alien_chars
    """))

  /** BM25 relevance scoring (Robertson-Sparck Jones, public) of every
    * document against a fixed 3-term query — the retrieval primitive
    * under RAG corpus search. All the global statistics BM25 needs are
    * tiny: df per query term (3-row broadcast), N and avgdl (1-row
    * broadcast) — so the score is a streaming map over the per-doc term
    * frequencies; nothing all-pairs, nothing driver-side. Transcendental
    * outputs (ln idf) are rounded to 6 dp before they enter the score
    * product, per-term scores to 6 before the ≤3-term sum, the final
    * score to 4 — cross-engine log/pow ulp hygiene.
    */
  /** The BM25 scoring pipeline, factored so the oracled q_bm25_topk and
    * the ScaleSmokeSpec stream-index round-trip share ONE definition:
    * `dfOverride` lets the caller substitute per-term document
    * frequencies maintained elsewhere (the streaming InvIndexProcessor's
    * upserted `df` column) for the batch-computed ones — the serving
    * split where term statistics live in a hot index and per-doc term
    * frequencies in the forward index. None ⇒ compute df from the
    * corpus (the query's own path).
    */
  def bm25TopK(docsTable: org.apache.spark.sql.DataFrame, terms: Seq[String],
      dfOverride: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val termArr = s"array(${terms.map(t => s"'$t'").mkString(", ")})"
    val (k1, b) = (1.2, 0.75)
    val d = docsTable
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
    val stats = d.agg(count(lit(1)).cast("double").as("n"),
      Ql.r(avg(col("dl")), 6).as("avgdl"))
    val tf = d.select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .filter(expr(s"array_contains($termArr, w)"))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    val dfT = dfOverride.getOrElse(
      tf.groupBy("w").agg(count(lit(1)).cast("double").as("df")))
    tf.join(broadcast(dfT), "w")
      .crossJoin(broadcast(stats))
      .withColumn("idf", Ql.r(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
      // 2.2 as the same decimal LITERAL both engines parse — the Scala
      // expression k1+1 computes 1.2+1.0 at runtime, which lands on a
      // round-to-even tie a hair away from parsed 2.2
      .withColumn("ts", Ql.r(
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"), min(col("dl")).as("dl"),
        Ql.r(sum(col("ts")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .select("doc_id", "n_hit_terms", "dl", "score")
  }

  /** The q_bm25_topk DuckDB oracle, split into reusable CTE-body +
    * final-select pieces so q_mmr_rerank's oracle can embed the exact
    * same candidate pipeline (one definition on the oracle side too).
    */
  private[operators] val bm25OracleCtes = s"""
      d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS dl
        FROM documents),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n, ${Ql.R("avg(dl)", 6)} AS avgdl FROM d),
      tf AS (
        SELECT doc_id, dl, w, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS w FROM d)
        WHERE w IN ('stream', 'join', 'window')
        GROUP BY 1, 2, 3),
      dft AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT doc_id, dl,
               ${Ql.R(s"""${Ql.R("ln((n - df + 0.5) / (df + 0.5) + 1.0)", 6)}
                 * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))""", 6)} AS ts
        FROM tf JOIN dft USING (w), st)"""

  private[operators] val bm25OracleSelect = s"""
      SELECT doc_id, count(*) AS n_hit_terms, CAST(min(dl) AS INT) AS dl,
             ${Ql.R("sum(ts)", 4)} AS score
      FROM scored GROUP BY 1
      ORDER BY score DESC, doc_id LIMIT 20"""

  private val bm25 = QueryDef(
    "q_bm25_topk",
    (spark, sfDir) =>
      bm25TopK(Tables.documents(spark, sfDir), Seq("stream", "join", "window")),
    Some(s"WITH $bm25OracleCtes\n$bm25OracleSelect"))

  /** Pointwise mutual information over adjacent token pairs — the
    * collocation detector (Church & Hanks 1990, public) behind phrase
    * mining and tokenizer-merge diagnostics. Three keyed aggregations
    * (bigram counts, unigram counts, two 1-row totals broadcast in);
    * PMI's ln is rounded at 4 dp in both engines. The ≥20-occurrence
    * support floor keeps the estimate stable AND bounds the output by
    * the (vocabulary)² grid, not the corpus — the 100 TB shape, since
    * real vocabularies are ~10⁵ while corpora are ~10¹².
    *
    * Normalizer convention: p(a,b) divides by n2 = Σ c_ab over the
    * SUPPORT-FILTERED bigram set (computed after the ≥20 floor, in both
    * engines identically), while p(a)/p(b) divide by the full unigram
    * total — so every PMI carries a constant +ln(n2_full/n2_filtered)
    * shift versus the textbook unfiltered normalizer. The shift is
    * uniform across bigrams: ranking, top-20 membership, and the
    * cross-engine hash match are all unaffected. Kept deliberately —
    * at scale n2 over the filtered set is a byproduct of the bigram
    * aggregation already being computed, where the unfiltered total
    * would be one more full-corpus pass.
    */
  private val pmiBigrams = QueryDef(
    "q_pmi_bigrams",
    (spark, sfDir) => {
      val t = Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
      val uni = t.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c_w"))
      val nUni = uni.agg(sum(col("c_w")).cast("double").as("n1"))
      val bi = t.select(explode(expr(
          """transform(sequence(0, size(toks) - 2),
               i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))""")).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 20)
      val nBi = bi.agg(sum(col("c_ab")).cast("double").as("n2"))
      bi.withColumn("a", element_at(split(col("bg"), " "), 1))
        .withColumn("b", element_at(split(col("bg"), " "), 2))
        .join(broadcast(uni.select(col("w").as("a"), col("c_w").as("c_a"))), "a")
        .join(broadcast(uni.select(col("w").as("b"), col("c_w").as("c_b"))), "b")
        .crossJoin(broadcast(nBi))
        .crossJoin(broadcast(nUni))
        .withColumn("pmi", Ql.r(log((col("c_ab") / col("n2")) /
          ((col("c_a") / col("n1")) * (col("c_b") / col("n1")))), 4))
        .select(col("bg").as("bigram"), col("c_ab"), col("c_a"), col("c_b"), col("pmi"))
        .orderBy(col("pmi").desc, col("bigram")).limit(20)
    },
    Some(s"""
      WITH t AS (
        SELECT string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      uni AS (
        SELECT w, count(*) AS c_w
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
      n1 AS (SELECT CAST(sum(c_w) AS DOUBLE) AS n1 FROM uni),
      bi AS (
        SELECT bg, count(*) AS c_ab
        FROM (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1])) AS bg
              FROM t)
        GROUP BY 1 HAVING count(*) >= 20),
      n2 AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n2 FROM bi),
      j AS (
        SELECT bg, c_ab,
               string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b
        FROM bi)
      SELECT bg AS bigram, c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
             ${Ql.R("ln((c_ab / n2) / ((ua.c_w / n1) * (ub.c_w / n1)))", 4)} AS pmi
      FROM j JOIN uni ua ON j.a = ua.w JOIN uni ub ON j.b = ub.w, n1, n2
      ORDER BY pmi DESC, bigram LIMIT 20
    """))

  /** Bigram language-model perplexity per document — the CCNet-style
    * quality signal (Wenzek et al. 2020, public): docs whose token
    * stream a corpus-trained LM finds most surprising are the ones a
    * curation pipeline flags first. The LM is add-0.5-smoothed bigram
    * MLE trained on the corpus itself (self-inclusive — convention
    * documented, both engines identical): P(b|a) = (c_ab + 0.5) /
    * (c_a + 0.5·V) with c_a the HISTORY count (bigram instances starting
    * with a, so the unsmoothed conditional sums to 1) and V the full
    * unigram vocabulary as a 1-row broadcast. Per-bigram log-probs are
    * rounded at 6 dp, the per-doc mean is rounded at 6 dp BEFORE exp
    * (so both engines exponentiate the same double and libm-vs-JVM exp
    * ulps can't compound with summation order), perplexity at 4 dp with
    * doc_id tiebreaks. Scale shape: one explode + two keyed counts
    * (bigram table is vocab²-bounded), one keyed join back, one per-doc
    * rollup — the BM25/PMI family, nothing all-pairs.
    */
  private val lmPerplexity = QueryDef(
    "q_lm_perplexity",
    (spark, sfDir) => {
      val t = Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
      val inst = t.select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(toks) - 2),
               i -> struct(element_at(toks, i + 1) AS a,
                           concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)) AS bg))""")).as("x"))
        .select(col("doc_id"), col("x.a").as("a"), col("x.bg").as("bg"))
      val cab = inst.groupBy("bg").agg(count(lit(1)).as("c_ab"))
      val ca = inst.groupBy("a").agg(count(lit(1)).as("c_a"))
      val vRow = t.select(explode(col("toks")).as("w"))
        .agg(countDistinct(col("w")).cast("double").as("v"))
      inst.groupBy("doc_id", "a", "bg").agg(count(lit(1)).as("k"))
        .join(cab, "bg").join(ca, "a")
        .crossJoin(broadcast(vRow))
        .withColumn("logp",
          Ql.r(log((col("c_ab") + lit(0.5)) / (col("c_a") + lit(0.5) * col("v"))), 6))
        .groupBy("doc_id")
        .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * col("logp")).as("s"))
        .withColumn("avg_nll", Ql.r(-col("s") / col("n_bigrams"), 6))
        .withColumn("ppl", Ql.r(exp(col("avg_nll")), 4))
        .select(col("doc_id"), col("n_bigrams"), col("ppl"))
        .orderBy(col("ppl").desc, col("doc_id")).limit(20)
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      inst AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM t),
      withA AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS a FROM inst),
      cab AS (SELECT bg, count(*) AS c_ab FROM withA GROUP BY 1),
      ca AS (SELECT a, count(*) AS c_a FROM withA GROUP BY 1),
      vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
             FROM (SELECT unnest(toks) AS w FROM t)),
      db AS (SELECT doc_id, a, bg, count(*) AS k FROM withA GROUP BY 1, 2, 3),
      scored AS (
        SELECT doc_id, k,
               ${Ql.R("ln((c_ab + 0.5) / (c_a + 0.5 * v))", 6)} AS logp
        FROM db JOIN cab USING (bg) JOIN ca USING (a), vv),
      perdoc AS (
        SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
               ${Ql.R("-sum(k * logp) / sum(k)", 6)} AS avg_nll
        FROM scored GROUP BY 1)
      SELECT doc_id, n_bigrams, ${Ql.R("exp(avg_nll)", 4)} AS ppl
      FROM perdoc
      ORDER BY ppl DESC, doc_id LIMIT 20
    """))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, public): per
    * language, rank every document by its LM perplexity and cut the
    * ranking into head/middle/tail terciles — the partition CCNet ships
    * as its quality tiers (head = most fluent under the LM, the slice
    * kept for pretraining; tail = candidates for dropping). The LM and
    * per-doc scoring are EXACTLY q_lm_perplexity's (same smoothing, same
    * rounding ladder) so the tiers describe the served signal. The
    * per-lang ranking runs as a TWO-LEVEL window — highest-set-bit
    * buckets of the 4-dp-integer perplexity + a broadcast per-(lang,
    * bucket) offset histogram — never a window partitioned by the
    * low-cardinality lang alone (the q_top_p_filter discipline); the
    * oracle proves the composition equals a plain per-lang row_number.
    * Tercile membership is exact integer arithmetic ((rank−1)·3 div
    * n_lang) against a |langs|-row count broadcast. Reports per tier:
    * docs, token mass, min/max/mean perplexity (mean from the exact
    * integer 4-dp keys).
    */
  /** The CCNet per-document tier assignment — everything q_ccnet_ppl_buckets
    * computes up to (doc_id, lang, n_toks, k, bucket), factored out so the
    * filter-agreement audit (q_quality_filter_agreement,
    * [[CurationQueries]]) consumes the SAME served tiers — one
    * definition, no drift. k is the 4-dp-integer perplexity key; bucket
    * ∈ {a_head, b_middle, c_tail}. The per-lang ranking is the two-level
    * window (highest-set-bit buckets + broadcast offsets), never a
    * lang-only window.
    */
  private[graft] def ccnetDocTiers(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
      val inst = t.select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(toks) - 2),
               i -> struct(element_at(toks, i + 1) AS a,
                           concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)) AS bg))""")).as("x"))
        .select(col("doc_id"), col("x.a").as("a"), col("x.bg").as("bg"))
      val cab = inst.groupBy("bg").agg(count(lit(1)).as("c_ab"))
      val ca = inst.groupBy("a").agg(count(lit(1)).as("c_a"))
      val vRow = t.select(explode(col("toks")).as("w"))
        .agg(countDistinct(col("w")).cast("double").as("v"))
      val perdoc = inst.groupBy("doc_id", "a", "bg").agg(count(lit(1)).as("k0"))
        .join(cab, "bg").join(ca, "a")
        .crossJoin(broadcast(vRow))
        .withColumn("logp",
          Ql.r(log((col("c_ab") + lit(0.5)) / (col("c_a") + lit(0.5) * col("v"))), 6))
        .groupBy("doc_id")
        .agg(Ql.r(-sum(col("k0") * col("logp")) / sum(col("k0")), 6).as("avg_nll"))
      val keyed = perdoc
        .join(t.select(col("doc_id"), col("lang"),
          size(col("toks")).cast("long").as("n_toks")), "doc_id")
        .withColumn("k", expr(s"CAST(${Ql.R("10000 * exp(avg_nll)", 0)} AS BIGINT)"))
        .withColumn("bkt", expr("length(bin(k)) - 1"))
        // feeds the bucket histogram (h → off AND nl) and the final rank
        // join — materialize so the corpus-scale bigram-LM scoring runs
        // once, not once per consumer (the q_top_p_filter discipline)
        .checkpointed
      val h = keyed.groupBy("lang", "bkt").agg(count(lit(1)).as("hn"))
      val wPre = Window.partitionBy("lang").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = h.withColumn("off", coalesce(sum(col("hn")).over(wPre), lit(0L)))
        .select("lang", "bkt", "off")
      val nl = h.groupBy("lang").agg(sum(col("hn")).as("n_lang"))
      val wIn = Window.partitionBy("lang", "bkt").orderBy("k", "doc_id")
      keyed
        .join(broadcast(off), Seq("lang", "bkt"))
        .join(broadcast(nl), "lang")
        .withColumn("rk", col("off") + row_number().over(wIn))
        .withColumn("bucket", expr(
          """CASE CAST(((rk - 1) * 3) div n_lang AS INT)
               WHEN 0 THEN 'a_head' WHEN 1 THEN 'b_middle'
               ELSE 'c_tail' END"""))
        .select("doc_id", "lang", "n_toks", "k", "bucket")
  }

  /** Oracle twin of [[ccnetDocTiers]]: CTE chain ending in
    * `b(doc_id, lang, n_toks, k, bucket)` — ONE text shared by the
    * q_ccnet_ppl_buckets and q_quality_filter_agreement oracles so the
    * LM, the rounding ladder, and the tercile rule cannot drift between
    * the tier report and the agreement audit.
    */
  private[graft] val ccnetTierSql: String = s"""t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      inst AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM t),
      withA AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS a FROM inst),
      cab AS (SELECT bg, count(*) AS c_ab FROM withA GROUP BY 1),
      ca AS (SELECT a, count(*) AS c_a FROM withA GROUP BY 1),
      vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
             FROM (SELECT unnest(toks) AS w FROM t)),
      db AS (SELECT doc_id, a, bg, count(*) AS k0 FROM withA GROUP BY 1, 2, 3),
      scored AS (
        SELECT doc_id, k0,
               ${Ql.R("ln((c_ab + 0.5) / (c_a + 0.5 * v))", 6)} AS logp
        FROM db JOIN cab USING (bg) JOIN ca USING (a), vv),
      perdoc AS (
        SELECT doc_id, ${Ql.R("-sum(k0 * logp) / sum(k0)", 6)} AS avg_nll
        FROM scored GROUP BY 1),
      keyed AS (
        SELECT p.doc_id, t.lang, CAST(len(t.toks) AS BIGINT) AS n_toks,
               CAST(${Ql.R("10000 * exp(avg_nll)", 0)} AS BIGINT) AS k
        FROM perdoc p JOIN t ON t.doc_id = p.doc_id),
      ranked AS (
        SELECT doc_id, lang, n_toks, k,
               row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rk,
               count(*) OVER (PARTITION BY lang) AS n_lang
        FROM keyed),
      b AS (SELECT doc_id, lang, n_toks, k,
                   CASE ((rk - 1) * 3) // n_lang WHEN 0 THEN 'a_head'
                        WHEN 1 THEN 'b_middle' ELSE 'c_tail' END AS bucket
            FROM ranked)"""

  private val ccnetPplBuckets = QueryDef(
    "q_ccnet_ppl_buckets",
    (spark, sfDir) =>
      ccnetDocTiers(spark, sfDir)
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          Ql.r(min(col("k")) / lit(10000.0), 4).as("ppl_min"),
          Ql.r(max(col("k")) / lit(10000.0), 4).as("ppl_max"),
          Ql.r(sum(col("k")).cast("double") / (count(lit(1)) * lit(10000.0)), 4)
            .as("ppl_mean"))
        .orderBy("lang", "bucket"),
    Some(s"""
      WITH $ccnetTierSql
      SELECT lang, bucket, count(*) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             ${Ql.R("min(k) / 10000.0", 4)} AS ppl_min,
             ${Ql.R("max(k) / 10000.0", 4)} AS ppl_max,
             ${Ql.R("CAST(sum(k) AS DOUBLE) / (count(*) * 10000.0)", 4)} AS ppl_mean
      FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Zipf rank-frequency fit per language — the corpus-health
    * diagnostic: natural text runs a log-log slope near −1; a corpus
    * polluted by boilerplate or templating drifts flat or steep. Both
    * engines rank tokens by (count desc, token) inside each language,
    * keep the top 200 (WindowGroupLimit in Spark), and fit
    * ln(freq) ~ ln(rank) with the built-in OLS aggregates (`regr_slope`
    * / `regr_intercept` / `regr_r2` exist in Spark 4 and DuckDB with
    * identical semantics), rounded at 4 dp. Scale shape: one keyed
    * count, one per-language top-k window over the vocabulary-sized
    * table, one 200-row-per-language regression — the corpus is
    * touched once.
    */
  private val zipfSlope = QueryDef(
    "q_zipf_slope",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(spark, sfDir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("n"))
      val wRank = Window.partitionBy("lang").orderBy(col("n").desc, col("w"))
      counts
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 200)
        .withColumn("x", log(col("rank").cast("double")))
        .withColumn("y", log(col("n").cast("double")))
        .groupBy("lang")
        .agg(Ql.r(expr("regr_slope(y, x)"), 4).as("slope"),
          Ql.r(expr("regr_intercept(y, x)"), 4).as("intercept"),
          Ql.r(expr("regr_r2(y, x)"), 4).as("r2"),
          count(lit(1)).as("n_tokens"))
        .orderBy("lang")
    },
    Some(s"""
      WITH counts AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      freq AS (SELECT lang, w, count(*) AS n FROM counts GROUP BY 1, 2),
      ranked AS (
        SELECT lang, n,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rank
        FROM freq),
      fitin AS (
        SELECT lang, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
        FROM ranked WHERE rank <= 200)
      SELECT lang, ${Ql.R("regr_slope(y, x)", 4)} AS slope,
             ${Ql.R("regr_intercept(y, x)", 4)} AS intercept,
             ${Ql.R("regr_r2(y, x)", 4)} AS r2,
             count(*) AS n_tokens
      FROM fitin GROUP BY 1 ORDER BY 1
    """))

  /** Inverted index construction — the posting-list build every retrieval
    * system (and the BM25 query above) presupposes: token → document
    * frequency, total term frequency, and the head of the doc-id posting
    * list. df and postings come from the DISTINCT (token, doc) pairs, tf
    * from the raw stream — one explode feeding two partial aggregations,
    * both keyed on token, so AQE coalesces them onto one exchange. The
    * posting array is sorted then truncated to 5 entries, keeping the
    * output row bounded no matter how hot the token (the 100 TB guard:
    * posting lists for stopwords would otherwise be corpus-sized rows).
    * The head postings are emitted comma-joined (flat string, not an
    * array column) — the cross-engine comparator requires scalar output
    * columns, the same contract q_agg_collect follows.
    */
  private val invertedIndex = QueryDef(
    "q_inverted_index",
    (spark, sfDir) => {
      val toks = Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      toks.groupBy("tok")
        .agg(
          countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf"),
          array_join(slice(array_sort(collect_set(col("doc_id"))), 1, 5), ",")
            .as("postings"))
        .filter(col("df") >= 20)
        .orderBy("tok")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      raw AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1),
      d AS (SELECT DISTINCT tok, doc_id FROM t),
      dd AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df,
               array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',') AS postings
        FROM d GROUP BY 1)
      SELECT dd.tok, dd.df, raw.tf, dd.postings
      FROM dd JOIN raw USING (tok)
      WHERE dd.df >= 20 ORDER BY tok
    """))

  /** Feature hashing / the hashing trick (Weinberger et al. 2009,
    * public): project the 5-gram feature space (the hashed n-gram
    * features of a fastText-style model — the corpus's unigram
    * vocabulary is tiny, its 5-gram space is not) into 1024 hash
    * buckets and audit the collision structure: the occupancy histogram
    * (how many buckets hold k distinct features) plus the instance mass
    * riding each occupancy class. This is the dimensionality-vs-
    * collision report a pipeline reads before fixing the feature
    * dimension of a hashed bag-of-words model. Cost is FEATURE-SPACE-
    * sized after the first map-side-combined gram count — the corpus
    * scan feeds one keyed aggregation, everything after runs on ≤
    * distinct-gram rows, and the histogram is bounded by the bucket
    * count. Bucket = first 12 md5 bits mod 1024, the same deterministic
    * cross-engine hash family as every sampler here; the 5-gram builder
    * is q_dup_gram_coverage's.
    */
  private val featureHashing = QueryDef(
    "q_feature_hashing",
    (spark, sfDir) => {
      val perGram = Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .select(explode(expr(
          "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))")).as("g0"))
        .groupBy("g0").agg(count(lit(1)).as("n_inst"))
      perGram
        .withColumn("b", expr(s"${Ql.md5PrefixLong("g0", 3)} % 1024"))
        .groupBy("b")
        .agg(count(lit(1)).as("n_feats"), sum(col("n_inst")).as("n_instances"))
        .groupBy("n_feats")
        .agg(count(lit(1)).as("n_buckets"), sum(col("n_instances")).as("n_instances"))
        .orderBy("n_feats")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 5),
      perGram AS (
        SELECT g0, count(*) AS n_inst
        FROM (SELECT unnest(list_transform(generate_series(1, len(toks) - 4),
                i -> array_to_string(toks[i:i+4], ' '))) AS g0
              FROM t)
        GROUP BY 1),
      bucketed AS (
        SELECT ${Ql.Md5PrefixLong("g0", 3)} % 1024 AS b,
               count(*) AS n_feats,
               CAST(sum(n_inst) AS BIGINT) AS n_instances
        FROM perGram GROUP BY 1)
      SELECT n_feats, count(*) AS n_buckets,
             CAST(sum(n_instances) AS BIGINT) AS n_instances
      FROM bucketed GROUP BY 1 ORDER BY 1
    """))

  /** Heaps'-law vocabulary growth (Heaps 1978, public): V(N) = K·N^β —
    * how fast the vocabulary grows as the corpus streams in, the
    * statistic that sizes vocabularies, hash dimensions, and dedup
    * structures before a full pass exists. Checkpoints are ten
    * equi-width doc-id ranges from a 1-row bounds broadcast ("arrival
    * order" deciles); each token contributes once at its FIRST
    * checkpoint (min doc_id — one map-side-combined aggregation over
    * the corpus, then everything is 10-row arithmetic), instances
    * cumulate per checkpoint the same way, and β comes from the same
    * regr_slope log-log fit q_zipf_slope uses, as a window over the
    * 10-row table. The whole job is one token scan + two keyed
    * aggregations; no per-doc window anywhere.
    */
  private val heapsLaw = QueryDef(
    "q_heaps_law",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, sfDir)
      val b = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      val toks = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      def ckpt(c: org.apache.spark.sql.Column) =
        expr(s"((${c.toString} - lo) * 10) div (hi - lo + 1) + 1")
      val newToks = toks.groupBy("tok").agg(min(col("doc_id")).as("fd"))
        .crossJoin(broadcast(b))
        .groupBy(ckpt(col("fd")).as("checkpoint"))
        .agg(count(lit(1)).as("new_tokens"))
      val inst = toks.crossJoin(broadcast(b))
        .groupBy(ckpt(col("doc_id")).as("checkpoint"))
        .agg(count(lit(1)).as("n_inst"))
      val wCum = Window.orderBy("checkpoint")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      inst.join(newToks, Seq("checkpoint"), "left")
        .withColumn("new_tokens", coalesce(col("new_tokens"), lit(0L)))
        .withColumn("n_cum", sum(col("n_inst")).over(wCum))
        .withColumn("v_cum", sum(col("new_tokens")).over(wCum))
        .withColumn("beta", Ql.r(expr(
          "regr_slope(ln(CAST(v_cum AS DOUBLE)), ln(CAST(n_cum AS DOUBLE)))").over(wAll), 4))
        .select(col("checkpoint"), col("n_cum"), col("v_cum"), col("beta"))
        .orderBy("checkpoint")
    },
    Some(s"""
      WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      newtoks AS (
        SELECT ((fd - lo) * 10) // (hi - lo + 1) + 1 AS checkpoint,
               count(*) AS new_tokens
        FROM (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY 1), b
        GROUP BY 1),
      inst AS (
        SELECT ((doc_id - lo) * 10) // (hi - lo + 1) + 1 AS checkpoint,
               count(*) AS n_inst
        FROM toks, b GROUP BY 1),
      cum AS (
        SELECT i.checkpoint,
               CAST(sum(n_inst) OVER w AS BIGINT) AS n_cum,
               CAST(sum(coalesce(new_tokens, 0)) OVER w AS BIGINT) AS v_cum
        FROM inst i LEFT JOIN newtoks USING (checkpoint)
        WINDOW w AS (ORDER BY i.checkpoint ROWS UNBOUNDED PRECEDING))
      SELECT checkpoint, n_cum, v_cum,
             ${Ql.R("regr_slope(ln(CAST(v_cum AS DOUBLE)), ln(CAST(n_cum AS DOUBLE))) OVER ()", 4)}
               AS beta
      FROM cum ORDER BY checkpoint
    """))

  /** Sparse tf-idf cosine similarity join — the inverted-index
    * all-pairs similarity operator (Bayardo et al. 2007's index-join
    * family, public) over the df≤100 RARE-TOKEN subspace: common tokens
    * are dropped from numerators AND norms alike (the same hot-key guard
    * as q_dedup_ngram_jaccard, here doubling as the standard stopword-
    * style down-weighting — a df>100 token carries no discriminative
    * signal and would make the token-keyed pair join quadratic in its
    * posting length). Weights are ln(N/df)-scaled tf, rounded 6 dp
    * before any product so cross-engine sums start from identical
    * operands; score = Σ wa·wb / √(Σwa²·Σwb²), rounded 4 dp with an
    * (a, b) tiebreak for the top-20.
    */
  private val sparseCosinePairs = QueryDef(
    "q_sparse_cosine_pairs",
    (spark, sfDir) => scope {
      val docs = Tables.documents(spark, sfDir)
      val nDf = docs.agg(count(lit(1)).cast("double").as("nn"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 100)
      val w = tf.join(df, "tok")
        .crossJoin(broadcast(nDf))
        .select(col("doc_id"), col("tok"),
          Ql.r(col("tf") * log(col("nn") / col("df")), 6).as("w"))
        .checkpointed // feeds both the norms and the pair join
      val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nsq"))
      val pairs = w.select(col("doc_id").as("a"), col("tok"), col("w").as("wa"))
        .join(w.select(col("doc_id").as("b"), col("tok"), col("w").as("wb")), "tok")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(sum(col("wa") * col("wb")).as("dot"))
      pairs
        .join(norms.select(col("doc_id").as("a"), col("nsq").as("na")), "a")
        .join(norms.select(col("doc_id").as("b"), col("nsq").as("nb")), "b")
        .select(col("a"), col("b"),
          Ql.r(col("dot") / sqrt(col("na") * col("nb")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("a"), col("b"))
        .limit(20)
        .checkpointed // materialize before releasing w's blocks
    },
    Some(s"""
      WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM documents),
      tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1, 2),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 100),
      w AS (
        SELECT doc_id, tf.tok, ${Ql.R("tf * ln(nn / df)", 6)} AS w
        FROM tf JOIN df ON tf.tok = df.tok, n),
      norms AS (SELECT doc_id, sum(w * w) AS nsq FROM w GROUP BY 1),
      pairs AS (
        SELECT x.doc_id AS a, y.doc_id AS b, sum(x.w * y.w) AS dot
        FROM w x JOIN w y ON x.tok = y.tok AND x.doc_id < y.doc_id
        GROUP BY 1, 2)
      SELECT a, b, ${Ql.R("dot / sqrt(na.nsq * nb.nsq)", 4)} AS cosine
      FROM pairs
        JOIN norms na ON na.doc_id = a
        JOIN norms nb ON nb.doc_id = b
      ORDER BY cosine DESC, a, b LIMIT 20
    """))

  // ---------------------------------------------------------------- lexical diversity

  /** Per-source lexical-diversity profile: type-token ratio, hapax
    * fraction (types seen once — the Zipf tail mass), and mean token
    * length. The curation signal that separates template-stamped or
    * looping sources (low TTR, thin hapax tail) from diverse prose
    * BEFORE expensive dedup runs. Shape is the inverted-index family:
    * one (source, token) count aggregation, then a per-source fold —
    * token counts and lengths stay exact integers into the formulas.
    */
  private val ttrProfile = QueryDef(
    "q_ttr_profile",
    (spark, sfDir) => {
      val tok = Tables.documents(spark, sfDir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val types = tok.groupBy("source", "w")
        .agg(count(lit(1)).as("n"), sum(length(col("w"))).as("lsum"))
      types.groupBy("source")
        .agg(sum("n").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum("lsum").as("len_sum"))
        .selectExpr("source", "n_tokens", "n_types", "n_hapax",
          s"${Ql.R("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr",
          s"${Ql.R("CAST(n_hapax AS DOUBLE) / n_types", 4)} AS hapax_frac",
          s"${Ql.R("CAST(len_sum AS DOUBLE) / n_tokens", 4)} AS avg_tok_len")
        .orderBy("source")
    },
    Some(s"""
      WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      types AS (
        SELECT source, w, count(*) AS n, CAST(sum(len(w)) AS BIGINT) AS lsum
        FROM tok GROUP BY 1, 2),
      s AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
               count(*) AS n_types,
               CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
               CAST(sum(lsum) AS BIGINT) AS len_sum
        FROM types GROUP BY 1)
      SELECT source, n_tokens, n_types, n_hapax,
             ${Ql.R("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr,
             ${Ql.R("CAST(n_hapax AS DOUBLE) / n_types", 4)} AS hapax_frac,
             ${Ql.R("CAST(len_sum AS DOUBLE) / n_tokens", 4)} AS avg_tok_len
      FROM s ORDER BY source
    """))

  /** Vocabulary coverage curve — the operational readout behind "how big
    * a vocabulary do we need": the number of distinct token types (taken
    * most-frequent-first) required to cover 50% / 90% / 99% of corpus
    * token mass, plus what fraction of the full type inventory that is.
    * Zipf's law (q_zipf_slope) predicts the SHAPE; this measures the
    * actual tokenizer-sizing decision numbers. Corpus work is ONE token
    * count aggregation; the frequency-descending cumulative sweep runs
    * over the TYPE table via the two-level bucket pattern (≤64-row
    * log2-count offset histogram + in-bucket windows — no
    * single-partition window even at a 10M-type web-corpus vocabulary,
    * where Heaps' law says types keep growing with corpus size). The
    * coverage comparison is exact integer arithmetic (cum·100 ≥ pct·total
    * — no float threshold to diverge the engines).
    */
  private val vocabCoverage = QueryDef(
    "q_vocab_coverage",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val types = Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        // log2 bucket of the count: ascending bkt = descending count
        // class, <=64 buckets however large the corpus
        .withColumn("bkt",
          expr("CAST(floor(-log2(CAST(n AS DOUBLE))) AS BIGINT)"))
        .checkpointed // feeds the histogram AND the sweep
      val hist = types.groupBy("bkt")
        .agg(sum("n").as("b_mass"), count(lit(1)).as("b_types"))
      val wPre = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val offsets = hist
        .withColumn("off_mass", coalesce(sum(col("b_mass")).over(wPre), lit(0L)))
        .withColumn("off_types", coalesce(sum(col("b_types")).over(wPre), lit(0L)))
        .select("bkt", "off_mass", "off_types")
      val inB = Window.partitionBy("bkt").orderBy(col("n").desc, col("w"))
      val swept = types
        .join(broadcast(offsets), "bkt")
        .withColumn("cum_mass", col("off_mass") +
          sum(col("n")).over(inB.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("rnk", col("off_types") + row_number().over(inB))
      val tot = types.agg(sum("n").as("total"), count(lit(1)).as("n_types"))
      swept
        .crossJoin(broadcast(tot))
        .select(col("rnk"), col("cum_mass"), col("total"), col("n_types"),
          explode(expr("array(50, 90, 99)")).as("pct"))
        .filter(col("cum_mass") * 100 >= col("pct") * col("total"))
        .groupBy("pct")
        .agg(min("rnk").as("types_needed"),
          max("n_types").as("n_types"), max("total").as("total_tokens"))
        .selectExpr("pct", "types_needed", "n_types", "total_tokens",
          s"${Ql.R("CAST(types_needed AS DOUBLE) / n_types", 6)} AS vocab_frac")
        .orderBy("pct")
    },
    Some(s"""
      WITH t AS (
        SELECT w, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY 1),
      c AS (
        SELECT w, n,
               CAST(sum(n) OVER (ORDER BY n DESC, w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass,
               row_number() OVER (ORDER BY n DESC, w) AS rnk
        FROM t),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_types FROM t)
      SELECT pct, min(rnk) AS types_needed,
             max(n_types) AS n_types, max(total) AS total_tokens,
             ${Ql.R("CAST(min(rnk) AS DOUBLE) / max(n_types)", 6)} AS vocab_frac
      FROM c, tot, (SELECT unnest([50, 90, 99]) AS pct) tgt
      WHERE cum_mass * 100 >= pct * total
      GROUP BY pct ORDER BY pct
    """))

  /** Good–Turing frequency re-estimation over the corpus 5-gram
    * distribution (Good 1953; Gale & Sampson 1995 "Simple Good–Turing",
    * public): the frequency-of-frequencies table N_r, the Turing
    * re-estimate r* = (r+1)·N_{r+1}/N_r for the small-r head where it is
    * defined, and the unseen-event mass P₀ = N₁/N — the quantity that
    * tells a corpus builder how much probability its n-gram model should
    * reserve for n-grams it has never seen (unigrams would be degenerate
    * here: the corpus vocabulary is 31 words, while its 5-gram space is
    * tens of thousands — fact #20's lesson applied). Shape: one explode
    * + one keyed count to the type table, one count to the ≤max-count-row
    * histogram, a self-join of the histogram on r+1, a 1-row totals
    * broadcast — nothing wider than the histogram past the first
    * aggregation.
    */
  private val goodTuring = QueryDef(
    "q_good_turing",
    (spark, sfDir) => {
      val grams = Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .select(explode(expr(
          """transform(sequence(0, size(toks) - 5),
               i -> concat_ws(' ', slice(toks, i + 1, 5)))""")).as("g"))
      val counts = grams.groupBy("g").agg(count(lit(1)).as("r"))
      val hist = counts.groupBy("r").agg(count(lit(1)).as("n_r"))
        .checkpointed // ≤max-count rows; feeds totals and the r+1 self-join
      val totals = hist.agg(
        sum(expr("r * n_r")).as("n_tokens"),
        coalesce(sum(when(col("r") === 1, col("n_r"))), lit(0L)).as("n1"))
      hist.as("h")
        .join(hist.as("h1").select(col("r").as("r1"), col("n_r").as("n_next")),
          col("r") + 1 === col("r1"), "left")
        .filter(col("r") <= 10)
        .crossJoin(broadcast(totals))
        .selectExpr("r", "n_r",
          "CAST(coalesce(n_next, 0) AS BIGINT) AS n_next",
          s"""CASE WHEN coalesce(n_next, 0) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE ${Ql.R("(r + 1) * CAST(n_next AS DOUBLE) / n_r", 4)} END AS r_star""",
          s"${Ql.R("CAST(n1 AS DOUBLE) / n_tokens", 6)} AS p_unseen")
        .orderBy("r")
    },
    Some(s"""
      WITH grams AS (
        SELECT unnest(list_transform(generate_series(1, len(t) - 4),
                 i -> array_to_string(t[i : i + 4], ' '))) AS g
        FROM (SELECT string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 5),
      counts AS (SELECT g, count(*) AS r FROM grams GROUP BY 1),
      hist AS MATERIALIZED (
        SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY 1),
      totals AS (
        SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
               CAST(coalesce(sum(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT) AS n1
        FROM hist)
      SELECT h.r, h.n_r,
             CAST(coalesce(h1.n_r, 0) AS BIGINT) AS n_next,
             CASE WHEN coalesce(h1.n_r, 0) = 0 THEN CAST(NULL AS DOUBLE)
                  ELSE ${Ql.R("(h.r + 1) * CAST(h1.n_r AS DOUBLE) / h.n_r", 4)} END AS r_star,
             ${Ql.R("CAST(n1 AS DOUBLE) / n_tokens", 6)} AS p_unseen
      FROM hist h LEFT JOIN hist h1 ON h.r + 1 = h1.r
      CROSS JOIN totals
      WHERE h.r <= 10
      ORDER BY h.r
    """))

  /** Interpolated Kneser–Ney bigram language model scored on a held-out
    * split (Kneser & Ney 1995; Chen & Goodman 1999, public) — the
    * smoothing that actually ships in n-gram LMs, next to
    * q_lm_perplexity's plain add-k: absolute discount D = 0.75 on seen
    * bigrams, with the discounted mass backed off to the CONTINUATION
    * distribution (how many distinct contexts precede w₂, not how often
    * w₂ occurs). Train/held-out is the standard replay-stable doc_id
    * hash split (80/20). The model tables are vocabulary-bounded (≤V
    * unigram rows, ≤V² bigram rows) and broadcast onto the held-out
    * bigram stream; corpus work is one explode + keyed counts per side.
    * Continuation probabilities carry an add-0.5 smoothing floor
    * (documented convention, identical both engines) so an unseen
    * continuation cannot produce ln(0); per-bigram log-probs round at
    * 6 dp, the per-lang mean at 6 dp BEFORE exp (the q_lm_perplexity
    * discipline), perplexity at 4 dp.
    */
  /** The interpolated-KN probability, ONE text spliced into both engines
    * (fact #25): exponent-notation literals (75e-2, 5e-1) parse as DOUBLE
    * in both dialects — plain 0.75 parses as DECIMAL in both Spark and
    * DuckDB, and their differing decimal scale-propagation rules split
    * the arithmetic at the last ulp (measured: one held-out bigram's
    * micro-unit NLL off by 1).
    */
  private val knProbSql =
    """CASE WHEN c1 IS NULL
         THEN (coalesce(nbw, 0) + 5e-1) / (bt + 5e-1 * v)
         ELSE greatest(coalesce(c12, 0) - 75e-2, 0e0) / c1
           + (75e-2 * nfw / c1)
             * ((coalesce(nbw, 0) + 5e-1) / (bt + 5e-1 * v)) END"""

  private val kneserNey = QueryDef(
    "q_kneser_ney",
    (spark, sfDir) => {
      val bigrams = Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
        .withColumn("is_train",
          expr(s"${SamplingQueries.bucketExpr("doc_id")} < 80"))
        .select(col("lang"), col("is_train"), explode(expr(
          """transform(sequence(0, size(toks) - 2),
               i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))""")).as("bg"))
        .withColumn("a", element_at(split(col("bg"), " "), 1))
        .withColumn("b", element_at(split(col("bg"), " "), 2))
      val tb = bigrams.filter(col("is_train"))
        .groupBy("a", "b").agg(count(lit(1)).as("c12"))
        .checkpointed // ≤V² rows; feeds histories, continuations, totals
      val hist = tb.groupBy("a")
        .agg(sum("c12").as("c1"), count(lit(1)).as("nfw"))
      val cont = tb.groupBy("b").agg(count(lit(1)).as("nbw"))
      val tot = tb.agg(count(lit(1)).as("bt")).crossJoin(broadcast(
        tb.select(col("a").as("w")).union(tb.select(col("b").as("w")))
          .distinct().agg(count(lit(1)).as("v"))))
      bigrams.filter(!col("is_train"))
        .join(broadcast(tb), Seq("a", "b"), "left")
        .join(broadcast(hist), Seq("a"), "left")
        .join(broadcast(cont), Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .selectExpr("lang", "c1 IS NULL AS oov_ctx", s"$knProbSql AS p")
        // micro-unit NLL: the per-bigram term becomes an exact BIGINT, so
        // the corpus sum is order-independent — a double accumulation here
        // measured a 1-ulp engine split exactly on a 6 dp mean boundary
        .selectExpr("lang", "oov_ctx",
          s"CAST(${Ql.R("-ln(p) * 1000000", 0)} AS BIGINT) AS nll_u")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("oov_ctx").cast("long")).as("n_oov_ctx"),
          Ql.r(sum(col("nll_u")) / lit(1e6) / count(lit(1)), 6).as("mean_nll"))
        .withColumn("perplexity", Ql.r(exp(col("mean_nll")), 4))
        .orderBy("lang")
    },
    Some(s"""
      WITH bigrams AS MATERIALIZED (
        SELECT lang,
               ${Ql.Md5PrefixLong("CAST(doc_id AS VARCHAR)", 4)} % 100 < 80
                 AS is_train,
               string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b
        FROM (
          SELECT lang, doc_id,
                 unnest(list_transform(generate_series(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i + 1])) AS bg
          FROM (SELECT lang, doc_id, string_split(text, ' ') AS t
                FROM documents)
          WHERE len(t) >= 2)),
      tb AS MATERIALIZED (
        SELECT a, b, CAST(count(*) AS BIGINT) AS c12
        FROM bigrams WHERE is_train GROUP BY 1, 2),
      hist AS (
        SELECT a, CAST(sum(c12) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS nfw
        FROM tb GROUP BY 1),
      cont AS (SELECT b, CAST(count(*) AS BIGINT) AS nbw FROM tb GROUP BY 1),
      tot AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM tb) AS bt,
               (SELECT CAST(count(*) AS BIGINT) FROM
                 (SELECT a AS w FROM tb UNION SELECT b FROM tb)) AS v),
      scored AS (
        SELECT lang, c1 IS NULL AS oov_ctx,
               $knProbSql AS p
        FROM (
          SELECT g.lang, tb.c12, hist.c1, hist.nfw, cont.nbw, tot.bt, tot.v
          FROM bigrams g
          LEFT JOIN tb ON g.a = tb.a AND g.b = tb.b
          LEFT JOIN hist ON g.a = hist.a
          LEFT JOIN cont ON g.b = cont.b
          CROSS JOIN tot
          WHERE NOT g.is_train) h),
      nlls AS (
        SELECT lang, oov_ctx,
               CAST(${Ql.R("-ln(p) * 1000000", 0)} AS BIGINT) AS nll_u
        FROM scored),
      agg AS (
        SELECT lang, count(*) AS n_bigrams,
               CAST(sum(CASE WHEN oov_ctx THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov_ctx,
               ${Ql.R("CAST(sum(nll_u) AS DOUBLE) / 1e6 / count(*)", 6)} AS mean_nll
        FROM nlls GROUP BY 1)
      SELECT lang, n_bigrams, n_oov_ctx, mean_nll,
             ${Ql.R("exp(mean_nll)", 4)} AS perplexity
      FROM agg ORDER BY lang
    """))

  /** Discrete power-law MLE for the per-language word-frequency tail
    * (Clauset, Shalizi & Newman 2009 §3.1, public): the Hill-style
    * estimator α̂ = 1 + n / Σ ln(xᵢ/(x_min − ½)) over frequencies
    * x ≥ x_min = 20, with its standard error (α̂−1)/√n — the
    * maximum-likelihood complement to q_zipf_slope's rank-frequency OLS
    * (OLS on log-log ranks is known-biased; disagreement between the
    * two columns IS the diagnostic). Input is the vocabulary-bounded
    * (lang, word, freq) table from one corpus explode+count; per-term
    * logs become exact integer micro-units before the per-lang sum
    * (order-independent), and the ½ correction is the exponent-notation
    * literal 195e-1 (the DECIMAL-literal trap). Output is |langs| rows.
    */
  private val powerLawMle = QueryDef(
    "q_power_law_mle",
    (spark, sfDir) => {
      val freqs = Tables.documents(spark, sfDir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("x"))
        .filter(col("x") >= 20)
      freqs
        .select(col("lang"),
          expr(s"CAST(${Ql.R("ln(x / 195e-1) * 1000000", 0)} AS BIGINT)").as("lu"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tail"), sum("lu").as("slu"))
        .selectExpr("lang", "n_tail",
          s"${Ql.R("1e0 + CAST(n_tail AS DOUBLE) * 1000000 / slu", 4)} AS alpha",
          s"${Ql.R("(CAST(n_tail AS DOUBLE) * 1000000 / slu) / sqrt(n_tail)", 6)} AS se")
        .orderBy("lang")
    },
    Some(s"""
      WITH freqs AS (
        SELECT lang, w, count(*) AS x
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
        HAVING count(*) >= 20),
      lus AS (
        SELECT lang,
               CAST(${Ql.R("ln(x / 195e-1) * 1000000", 0)} AS BIGINT) AS lu
        FROM freqs),
      agg AS (
        SELECT lang, count(*) AS n_tail, CAST(sum(lu) AS BIGINT) AS slu
        FROM lus GROUP BY 1)
      SELECT lang, n_tail,
             ${Ql.R("1e0 + CAST(n_tail AS DOUBLE) * 1000000 / slu", 4)} AS alpha,
             ${Ql.R("(CAST(n_tail AS DOUBLE) * 1000000 / slu) / sqrt(n_tail)", 6)} AS se
      FROM agg ORDER BY lang
    """))

  /** UMass topic coherence per source (Mimno et al. EMNLP 2011, public),
    * treating each source's top-10 document-frequency words as its
    * "topic": coherence = Σ_{rank i < j} ln((D(wᵢ,wⱼ)+1)/D(wᵢ)) over
    * within-source document co-occurrence — the intrinsic score that
    * flags a source whose characteristic vocabulary does NOT actually
    * co-occur (scraper mixing content, template pollution). Scale shape:
    * the doc–word incidence explodes DISTINCT words per doc
    * (array_distinct before the explode), the top-10 rank is a
    * WindowGroupLimit per source, co-occurrence restricts incidence to
    * the broadcast top-word set (≤45 pair rows per doc), and the ≤45
    * per-source terms accumulate as exact micro-unit BIGINTs.
    */
  private val topicCoherence = QueryDef(
    "q_topic_coherence",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val inc = Tables.documents(spark, sfDir)
        .select(col("source"), col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("w"))
      val top = inc.groupBy("source", "w").agg(count(lit(1)).as("dfw"))
        .withColumn("r", row_number().over(
          Window.partitionBy("source").orderBy(col("dfw").desc, col("w"))))
        .filter(col("r") <= 10)
        .checkpointed // |sources|×10 rows
      val tinc = inc.join(broadcast(top), Seq("source", "w"))
      val cooc = tinc.as("a")
        .join(tinc.as("b"), Seq("source", "doc_id"))
        .filter(col("a.r") < col("b.r"))
        .groupBy(col("source"), col("a.r").as("ri"), col("b.r").as("rj"))
        .agg(count(lit(1)).as("dij"))
      // LEFT-join the full rank-pair grid: a top-word pair with ZERO
      // document co-occurrence must contribute ln(1/D(wi)) — the most
      // negative term and the exact signal this query exists to flag —
      // not silently vanish from the sum (review finding)
      val pairs = top.as("a").join(top.as("b"), Seq("source"))
        .filter(col("a.r") < col("b.r"))
        .select(col("source"), col("a.r").as("ri"), col("b.r").as("rj"),
          col("a.dfw").as("dfi"))
      pairs.join(cooc, Seq("source", "ri", "rj"), "left")
        .withColumn("dij", coalesce(col("dij"), lit(0L)))
        .selectExpr("source",
          s"CAST(${Ql.R("ln((dij + 1e0) / dfi) * 1000000", 0)} AS BIGINT) AS t_u")
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          Ql.r(sum("t_u") / lit(1e6), 4).as("coherence"))
        .orderBy("source")
    },
    Some(s"""
      WITH inc AS MATERIALIZED (
        SELECT DISTINCT source, doc_id, w
        FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)),
      top AS MATERIALIZED (
        SELECT source, w, dfw, r FROM (
          SELECT source, w, count(*) AS dfw,
                 row_number() OVER (PARTITION BY source
                   ORDER BY count(*) DESC, w) AS r
          FROM inc GROUP BY source, w)
        WHERE r <= 10),
      tinc AS MATERIALIZED (
        SELECT i.source, i.doc_id, t.r, t.dfw
        FROM inc i JOIN top t ON i.source = t.source AND i.w = t.w),
      cooc AS (
        SELECT a.source, a.r AS ri, b.r AS rj,
               CAST(count(*) AS BIGINT) AS dij
        FROM tinc a JOIN tinc b
          ON a.source = b.source AND a.doc_id = b.doc_id AND a.r < b.r
        GROUP BY 1, 2, 3),
      pairs AS (
        SELECT a.source, a.r AS ri, b.r AS rj, a.dfw AS dfi
        FROM top a JOIN top b ON a.source = b.source AND a.r < b.r),
      scoredp AS (
        SELECT p.source,
               coalesce(c.dij, 0) AS dij, p.dfi
        FROM pairs p LEFT JOIN cooc c
          ON p.source = c.source AND p.ri = c.ri AND p.rj = c.rj)
      SELECT source, count(*) AS n_pairs,
             ${Ql.R("CAST(sum(CAST(" + Ql.R("ln((dij + 1e0) / dfi) * 1000000", 0) + " AS BIGINT)) AS DOUBLE) / 1e6", 4)} AS coherence
      FROM scoredp
      GROUP BY 1
      ORDER BY source
    """))

  override def defs: Seq[QueryDef] = Seq(
    textStats, tfidf, langId, qualityScore, qualityThresholdSweep,
    tokenCount, fingerprint,
    langRoute, bpeMerges, bm25, pmiBigrams, lmPerplexity, ccnetPplBuckets,
    zipfSlope,
    langIdF1, invertedIndex, featureHashing, heapsLaw, sparseCosinePairs,
    ttrProfile, vocabCoverage, goodTuring, kneserNey, powerLawMle,
    topicCoherence, krippendorffAlpha)

  /** Krippendorff's α between the true language label and the n-gram
    * heuristic's prediction (Krippendorff 1970/2004, public) — the
    * agreement coefficient q_kappa_agreement's Cohen κ cannot replace
    * when raters can ABSTAIN: units where the heuristic produced no
    * prediction (the confusion matrix's '??' row) are dropped from the
    * coincidence matrix exactly as Krippendorff prescribes for units
    * with fewer than two codes, and the expected-disagreement term uses
    * the pooled coincidence marginals n_c(n_c−1)/(n(n−1)) rather than
    * per-rater margins. Everything is exact integer algebra on the
    * shared [[langConfusion]] matrix (|langs|²-sized) until the final
    * α division. One corpus pass (inside langConfusion); the rest is
    * report-sized.
    */
  private lazy val krippendorffAlpha = QueryDef(
    "q_krippendorff_alpha",
    (spark, sfDir) => {
      val conf = langConfusion(spark, sfDir).checkpointed
      val paired = conf.filter(col("pred") =!= "??")
      val o = paired.select(col("lang").as("a"), col("pred").as("b"), col("n"))
        .union(paired.select(col("pred").as("a"), col("lang").as("b"), col("n")))
        .groupBy("a", "b").agg(sum("n").as("o"))
        .checkpointed // ≤(|langs|)² coincidence cells
      val marg = o.groupBy("a").agg(sum("o").as("nc"))
      val tot = o.agg(sum("o").as("nn"),
        sum(when(col("a") === col("b"), col("o")).otherwise(0L)).as("diag"))
      val de = marg.agg(sum(expr("nc * (nc - 1)")).as("sncc"))
      val miss = conf.agg(sum("n").as("n_items"),
        sum(when(col("pred") === "??", col("n")).otherwise(0L)).as("n_missing"))
      tot.crossJoin(broadcast(de)).crossJoin(broadcast(miss))
        .selectExpr("n_items", "n_missing",
          "nn div 2 AS n_paired",
          s"${Ql.R("CAST(diag AS DOUBLE) / nn", 4)} AS pct_agreement",
          s"""${Ql.R(
            """1e0 - (1e0 - CAST(diag AS DOUBLE) / nn)
               / (1e0 - CAST(sncc AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1)))""", 6)}
            AS alpha""")
    },
    Some(s"""
      WITH $langConfusionSql,
      paired AS (SELECT lang, pred, n FROM confusion WHERE pred <> '??'),
      o AS MATERIALIZED (
        SELECT a, b, CAST(sum(n) AS BIGINT) AS o FROM (
          SELECT lang AS a, pred AS b, n FROM paired
          UNION ALL
          SELECT pred AS a, lang AS b, n FROM paired)
        GROUP BY 1, 2),
      marg AS (SELECT a, CAST(sum(o) AS BIGINT) AS nc FROM o GROUP BY 1),
      tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS nn,
               CAST(sum(CASE WHEN a = b THEN o ELSE 0 END) AS BIGINT) AS diag
        FROM o),
      de AS (SELECT CAST(sum(nc * (nc - 1)) AS BIGINT) AS sncc FROM marg),
      miss AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_items,
               CAST(sum(CASE WHEN pred = '??' THEN n ELSE 0 END) AS BIGINT)
                 AS n_missing
        FROM confusion)
      SELECT n_items, n_missing, nn // 2 AS n_paired,
             ${Ql.R("CAST(diag AS DOUBLE) / nn", 4)} AS pct_agreement,
             ${Ql.R(
            """1e0 - (1e0 - CAST(diag AS DOUBLE) / nn)
               / (1e0 - CAST(sncc AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1)))""", 6)}
               AS alpha
      FROM tot CROSS JOIN de CROSS JOIN miss
    """))
}
