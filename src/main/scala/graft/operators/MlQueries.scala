package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Distributed classical-ML operators fit by SUFFICIENT STATISTICS — the
  * StatQueries discipline (ridge/OLS precedent) extended to iterative
  * fitters: every model update consumes a handful of map-side-partial
  * aggregates; no per-row model state, no driver-side data, corpus passes
  * = the algorithm's round count. Cross-engine determinism follows the
  * shared-formula-text contract (NOTES fact 25): each round's
  * transcendental sums are rounded BEFORE the closed-form update, so both
  * engines walk the same rounded trajectory (the q_pca_power /
  * q_ewma_daily pattern).
  */
object MlQueries extends QueryModule {

  // ---------------------------------------------------------------- logistic (IRLS)

  /** Logistic regression of order urgency on ln(price) by two unrolled
    * IRLS/Newton rounds — the workhorse GLM, fit exactly the way it
    * scales: each round is ONE corpus aggregation producing the 2×2
    * weighted normal equations (Σw, Σwx, Σwx², Σ(y−p), Σ(y−p)x), then a
    * closed-form 2×2 solve on the 1-row stats frame. β starts at (0,0)
    * (round 1 ⇒ the weighted-least-squares start), each updated β is
    * rounded to 8 dp and broadcast back into the next pass — the rounded
    * trajectory both engines share. Per-row sigmoids use libm exp whose
    * last-ulp may differ across engines; the 6-dp rounding of the SUMS
    * absorbs it (n·ulp ≈ 1e-12 ≪ the tie distance), the same hygiene as
    * q_lm_perplexity. Reports n, positives, both coefficients, and the
    * final log-likelihood.
    */
  private val logisticIrls: QueryDef = {
    val sigp = "1.0 / (1.0 + exp(-(b0 + b1 * x)))"
    val det = "(sw * swxx - swx * swx)"
    val upd0 = Ql.R(s"b0 + (swxx * sr - swx * srx) / $det", 8)
    val upd1 = Ql.R(s"b1 + (sw * srx - swx * sr) / $det", 8)
    QueryDef(
      "q_logistic_irls",
      (spark, sfDir) => {
        val d = Tables.orders(spark, sfDir).selectExpr(
          "CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y",
          "ln(o_totalprice) AS x")
          .checkpointed // 3 passes (2 rounds + the LL readout)
        def round(beta: DataFrame): DataFrame =
          d.crossJoin(broadcast(beta))
            .selectExpr("y", "x", "b0", "b1", s"$sigp AS p")
            .agg(max(col("b0")).as("b0"), max(col("b1")).as("b1"),
              Ql.r(sum(expr("p * (1.0 - p)")), 6).as("sw"),
              Ql.r(sum(expr("p * (1.0 - p) * x")), 6).as("swx"),
              Ql.r(sum(expr("p * (1.0 - p) * x * x")), 6).as("swxx"),
              Ql.r(sum(expr("y - p")), 6).as("sr"),
              Ql.r(sum(expr("(y - p) * x")), 6).as("srx"))
            .selectExpr(s"$upd0 AS b0", s"$upd1 AS b1")
        val beta0 = d.sparkSession.range(1)
          .select(lit(0.0).as("b0"), lit(0.0).as("b1"))
        val beta2 = round(round(beta0))
        d.crossJoin(broadcast(beta2))
          .selectExpr("y", "b0", "b1", s"$sigp AS p")
          .agg(count(lit(1)).as("n"),
            sum(col("y")).cast("long").as("n_pos"),
            Ql.r(max(col("b0")), 4).as("beta0"),
            Ql.r(max(col("b1")), 4).as("beta1"),
            Ql.r(sum(expr("y * ln(p) + (1.0 - y) * ln(1.0 - p)")), 2).as("log_lik"))
      },
      Some(s"""
        WITH d AS (
          SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y,
                 ln(o_totalprice) AS x
          FROM orders),
        s1 AS (
          SELECT max(b0) AS b0, max(b1) AS b1,
                 ${Ql.R("sum(p * (1.0 - p))", 6)} AS sw,
                 ${Ql.R("sum(p * (1.0 - p) * x)", 6)} AS swx,
                 ${Ql.R("sum(p * (1.0 - p) * x * x)", 6)} AS swxx,
                 ${Ql.R("sum(y - p)", 6)} AS sr,
                 ${Ql.R("sum((y - p) * x)", 6)} AS srx
          FROM (SELECT y, x, b0, b1, $sigp AS p
                FROM d CROSS JOIN (SELECT 0.0 AS b0, 0.0 AS b1))),
        beta1 AS (SELECT $upd0 AS b0, $upd1 AS b1 FROM s1),
        s2 AS (
          SELECT max(b0) AS b0, max(b1) AS b1,
                 ${Ql.R("sum(p * (1.0 - p))", 6)} AS sw,
                 ${Ql.R("sum(p * (1.0 - p) * x)", 6)} AS swx,
                 ${Ql.R("sum(p * (1.0 - p) * x * x)", 6)} AS swxx,
                 ${Ql.R("sum(y - p)", 6)} AS sr,
                 ${Ql.R("sum((y - p) * x)", 6)} AS srx
          FROM (SELECT y, x, b0, b1, $sigp AS p FROM d CROSS JOIN beta1)),
        beta2 AS (SELECT $upd0 AS b0, $upd1 AS b1 FROM s2)
        SELECT count(*) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               ${Ql.R("max(b0)", 4)} AS beta0,
               ${Ql.R("max(b1)", 4)} AS beta1,
               ${Ql.R("sum(y * ln(p) + (1.0 - y) * ln(1.0 - p))", 2)} AS log_lik
        FROM (SELECT y, b0, b1, $sigp AS p FROM d CROSS JOIN beta2)
      """))
  }

  // ---------------------------------------------------------------- overdispersion

  /** Poisson overdispersion screen on daily event counts — the test that
    * decides count-model family (Poisson vs negative binomial) before
    * anyone fits one. Per type: n days, mean and sample variance of the
    * daily count from EXACT integer sums (Σc, Σc²), the dispersion
    * ratio σ²/μ, and the method-of-moments NB size r = μ²/(σ²−μ) with
    * the underdispersed case (σ²≤μ, where NB is undefined) CASE-guarded
    * identically in both engines (NOTES fact 31). All divisions are
    * IEEE-on-identical-integers — bit-equal across engines — rounded
    * 4 dp for the report.
    */
  private val overdispersion = QueryDef(
    "q_overdispersion",
    (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("c")).as("s"), sum(col("c") * col("c")).as("s2"))
        .selectExpr("event_type", "n_days",
          "CAST(s AS DOUBLE) / n_days AS mu",
          "(s2 - CAST(s AS DOUBLE) * s / n_days) / (n_days - 1) AS v")
        .selectExpr("event_type", "n_days",
          s"${Ql.R("mu", 4)} AS mean_daily",
          s"${Ql.R("v", 4)} AS var_daily",
          s"${Ql.R("v / mu", 4)} AS dispersion",
          s"CASE WHEN v <= mu THEN NULL ELSE ${Ql.R("mu * mu / (v - mu)", 4)} END AS nb_size")
        .orderBy("event_type"),
    Some(s"""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      agg AS (
        SELECT event_type, count(*) AS n_days,
               CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS s2
        FROM daily GROUP BY 1),
      mv AS (
        SELECT event_type, n_days,
               CAST(s AS DOUBLE) / n_days AS mu,
               (s2 - CAST(s AS DOUBLE) * s / n_days) / (n_days - 1) AS v
        FROM agg)
      SELECT event_type, n_days,
             ${Ql.R("mu", 4)} AS mean_daily,
             ${Ql.R("v", 4)} AS var_daily,
             ${Ql.R("v / mu", 4)} AS dispersion,
             CASE WHEN v <= mu THEN NULL ELSE ${Ql.R("mu * mu / (v - mu)", 4)} END AS nb_size
      FROM mv ORDER BY event_type
    """))

  // ---------------------------------------------------------------- VaR / CVaR

  /** Historical Value-at-Risk and expected shortfall (CVaR) of the event
    * value distribution per type — the tail-risk pair every risk/abuse
    * dashboard reports. Works entirely on the bounded cent GRID
    * (≤49k cells by the 2-decimal value domain — the q_median_ci
    * machinery): VaR95 is the smallest cent with 20·cum ≥ 19·n (exact
    * integer cross-multiplication, no float quantile), CVaR95 the exact
    * integer mean of the ≥VaR tail. Corpus work is one keyed count; the
    * window runs over grid rows partitioned by type.
    */
  private val varCvar = QueryDef(
    "q_var_cvar",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val grid = Tables.events(spark, sfDir)
        .select(col("event_type"), Ql.r(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = grid
        .withColumn("cum", sum("cnt").over(w))
      val tot = grid.groupBy("event_type").agg(sum("cnt").as("n"))
      val varRow = cdf.join(broadcast(tot), "event_type")
        .filter(col("cum") * 20 >= col("n") * 19)
        .groupBy("event_type").agg(min("c").as("var_c"))
      grid.join(broadcast(varRow), "event_type")
        .filter(col("c") >= col("var_c"))
        .groupBy("event_type")
        .agg(max("var_c").as("var_c"), sum("cnt").as("tail_n"),
          sum(col("c") * col("cnt")).as("tail_s"))
        .join(broadcast(tot), "event_type")
        .selectExpr("event_type", "n",
          s"${Ql.R("var_c / 100.0", 2)} AS var95",
          s"${Ql.R("CAST(tail_s AS DOUBLE) / tail_n / 100.0", 4)} AS cvar95",
          "tail_n")
        .orderBy("event_type")
    },
    Some(s"""
      WITH grid AS (
        SELECT event_type, CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      cdf AS (
        SELECT event_type, c, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM grid),
      tot AS (
        SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        FROM grid GROUP BY 1),
      v AS (
        SELECT event_type, CAST(min(c) AS BIGINT) AS var_c
        FROM cdf JOIN tot USING (event_type)
        WHERE cum * 20 >= n * 19
        GROUP BY 1)
      SELECT grid.event_type, max(n) AS n,
             ${Ql.R("max(var_c) / 100.0", 2)} AS var95,
             ${Ql.R("CAST(sum(c * cnt) AS DOUBLE) / sum(cnt) / 100.0", 4)} AS cvar95,
             CAST(sum(cnt) AS BIGINT) AS tail_n
      FROM grid JOIN v USING (event_type) JOIN tot ON grid.event_type = tot.event_type
      WHERE c >= var_c
      GROUP BY 1 ORDER BY 1
    """))

  // ---------------------------------------------------------------- naive Bayes

  /** Multinomial naive-Bayes language classifier with add-1 smoothing,
    * trained and evaluated on the corpus (resubstitution — the quick
    * "is this signal learnable" screen before any split). The model IS
    * a relation: per-(lang, token) log-probabilities over the dense
    * langs×vocab grid (vocabulary-bounded — ~31 unigrams here, ~10⁵ in
    * the wild, never corpus-sized), built from one token-count
    * aggregation. Scoring joins the per-doc term frequencies against
    * the BROADCAST grid (a langs-fold fan-out of the doc-token table,
    * the forward-index shape), sums tf·lnp per (doc, lang), adds the
    * ln prior, and takes the per-doc argmax via a doc-partitioned
    * rank-1 window (≤|langs| rows per partition, key cardinality =
    * corpus — fully distributed). ln values are rounded to 6 dp before
    * the sums, scores to 4 dp, ties broken lang-ascending. Reports the
    * confusion matrix.
    */
  private val naiveBayes = QueryDef(
    "q_naive_bayes",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang").as("true_lang"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("doc_id", "true_lang", "tok").agg(count(lit(1)).as("tf"))
      val counts = toks.groupBy(col("true_lang").as("lang"), col("tok"))
        .agg(sum("tf").as("c"))
      val vocab = counts.select("tok").distinct()
      val vSize = vocab.agg(count(lit(1)).as("v"))
      val langTot = counts.groupBy("lang").agg(sum("c").as("tot"))
      // corpus doc count derives from the |langs|-row frame — no second
      // corpus pass for a number the per-lang counts already determine
      val langDocs = Tables.documents(spark, sfDir)
        .groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      val priors = langDocs
        .crossJoin(broadcast(langDocs.agg(sum("nd").as("ndt"))))
        .selectExpr("lang", s"${Ql.R("ln(CAST(nd AS DOUBLE) / ndt)", 6)} AS lnprior")
      val grid = langTot.crossJoin(broadcast(vocab)) // langs x vocab — vocabulary-bounded
        .join(counts, Seq("lang", "tok"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .crossJoin(broadcast(vSize))
        .selectExpr("lang", "tok",
          s"${Ql.R("ln((c + 1.0) / (tot + v))", 6)} AS lnp")
      val scores = toks
        .join(broadcast(grid), "tok")
        .groupBy("doc_id", "true_lang", "lang")
        .agg(Ql.r(sum(col("tf") * col("lnp")), 4).as("s0"))
        .join(broadcast(priors), "lang")
        .withColumn("score", Ql.r(col("s0") + col("lnprior"), 4))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("lang"))
      scores.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("true_lang"), col("lang").as("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("true_lang", "pred_lang")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang AS true_lang, tok, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE len(tok) > 0
        GROUP BY 1, 2, 3),
      counts AS (
        SELECT true_lang AS lang, tok, CAST(sum(tf) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2),
      vocab AS (SELECT DISTINCT tok FROM counts),
      vs AS (SELECT count(*) AS v FROM vocab),
      langtot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
      priors AS (
        SELECT lang, ${Ql.R("ln(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM documents))", 6)} AS lnprior
        FROM documents GROUP BY 1),
      grid AS (
        SELECT langtot.lang, vocab.tok,
               ${Ql.R("ln((COALESCE(c, 0) + 1.0) / (tot + v))", 6)} AS lnp
        FROM langtot CROSS JOIN vocab
        LEFT JOIN counts ON counts.lang = langtot.lang AND counts.tok = vocab.tok
        CROSS JOIN vs),
      scores AS (
        SELECT doc_id, true_lang, g.lang,
               ${Ql.R(s"${Ql.R("sum(tf * lnp)", 4)} + max(lnprior)", 4)} AS score
        FROM toks JOIN grid g USING (tok) JOIN priors p ON g.lang = p.lang
        GROUP BY 1, 2, 3),
      pred AS (
        SELECT doc_id, true_lang, lang AS pred_lang,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, lang) AS rk
        FROM scores)
      SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM pred WHERE rk = 1
      GROUP BY 1, 2 ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------- data scaling curve

  /** Data-scaling curve — held-out accuracy of the multinomial
    * naive-Bayes language classifier as a function of training-set SIZE
    * (nested 10% / 20% / 40% / 80% hash-bucket subsets, evaluated on the
    * disjoint ≥90 test buckets): the measurement behind every "do we
    * need more data or better data" curation decision, and the
    * experimental shape of the scaling-law literature with a classifier
    * standing in for the LM. Nesting is free: one pass counts tokens per
    * (lang, token, threshold-band); each threshold's model is a
    * re-aggregation of that MODEL-SIZED table (vocab × langs × 4 bands),
    * so four models cost one corpus scan, not four. Unseen test tokens
    * (absent from a threshold's training vocab) are dropped for that
    * threshold in both engines (inner join). Scoring discipline is
    * q_naive_bayes's: 6 dp-rounded log-probs, 4 dp-rounded sums, argmax
    * with lang-ascending ties. The grid broadcast is vocab-bounded; at a
    * web-scale vocabulary it becomes a shuffle join keyed on token —
    * same plan, bigger exchange.
    */
  private val dataScalingCurve: QueryDef = {
    val segCase = "CASE WHEN bucket < 10 THEN 10 WHEN bucket < 20 THEN 20 " +
      "WHEN bucket < 40 THEN 40 ELSE 80 END"
    QueryDef(
      "q_data_scaling_curve",
      (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(spark, sfDir)
          .withColumn("bucket", expr(SamplingQueries.bucketExpr("doc_id")))
          .checkpointed // train counts, priors, and test scan
        val trainTok = docs.filter(col("bucket") < 80)
          .select(col("lang"), expr(segCase).as("seg"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
        val segCounts = trainTok.groupBy("lang", "tok", "seg")
          .agg(count(lit(1)).as("c"))
          .checkpointed // model-sized: vocab x langs x 4 bands
        val thr = segCounts
          .select(col("lang"), col("tok"), col("seg"), col("c"),
            explode(expr("array(10, 20, 40, 80)")).as("t"))
          .filter(col("seg") <= col("t"))
          .groupBy("t", "lang", "tok").agg(sum("c").as("c"))
          .checkpointed // feeds totals, vocab, and the grid
        val langTot = thr.groupBy("t", "lang").agg(sum("c").as("tot"))
        val vocabT = thr.select("t", "tok").distinct()
        val vSize = vocabT.groupBy("t").agg(count(lit(1)).as("v"))
        val segDocs = docs.filter(col("bucket") < 80)
          .groupBy(col("lang"), expr(segCase).as("seg")).agg(count(lit(1)).as("nd"))
        val pr0 = segDocs
          .select(col("lang"), col("seg"), col("nd"),
            explode(expr("array(10, 20, 40, 80)")).as("t"))
          .filter(col("seg") <= col("t"))
          .groupBy("t", "lang").agg(sum("nd").as("nd"))
        val priors = pr0
          .join(broadcast(pr0.groupBy("t").agg(sum("nd").as("ndt"))), "t")
          .selectExpr("t", "lang",
            s"${Ql.R("ln(CAST(nd AS DOUBLE) / ndt)", 6)} AS lnprior")
        val grid = langTot
          .join(broadcast(vocabT), "t")
          .join(thr, Seq("t", "lang", "tok"), "left")
          .na.fill(0L, Seq("c"))
          .join(broadcast(vSize), "t")
          .selectExpr("t", "lang", "tok",
            s"${Ql.R("ln((c + 1.0) / (tot + v))", 6)} AS lnp")
        val testTok = docs.filter(col("bucket") >= 90)
          .select(col("doc_id"), col("lang").as("true_lang"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy("doc_id", "true_lang", "tok").agg(count(lit(1)).as("tf"))
        val scores = testTok
          .join(broadcast(grid), "tok")
          .groupBy("doc_id", "true_lang", "t", "lang")
          .agg(Ql.r(sum(col("tf") * col("lnp")), 4).as("s0"))
          .join(broadcast(priors), Seq("t", "lang"))
          .withColumn("score", Ql.r(col("s0") + col("lnprior"), 4))
        val w = Window.partitionBy("doc_id", "t")
          .orderBy(col("score").desc, col("lang"))
        scores.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .groupBy("t")
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("lang") === col("true_lang"), 1L).otherwise(0L)).as("n_correct"))
          .selectExpr("t AS train_pct", "n_test", "n_correct",
            s"${Ql.R("CAST(n_correct AS DOUBLE) / n_test", 4)} AS accuracy")
          .orderBy("train_pct")
      },
      Some(s"""
        WITH docs AS (
          SELECT doc_id, lang, text,
                 ${Ql.Md5PrefixLong("CAST(doc_id AS VARCHAR)", 4)} % 100 AS bucket
          FROM documents),
        ttok AS (
          SELECT lang, $segCase AS seg, tok
          FROM (SELECT lang, bucket, unnest(string_split(text, ' ')) AS tok
                FROM docs WHERE bucket < 80)
          WHERE len(tok) > 0),
        seg_counts AS (SELECT lang, tok, seg, count(*) AS c FROM ttok GROUP BY 1, 2, 3),
        thr AS (
          SELECT t, lang, tok, CAST(sum(c) AS BIGINT) AS c
          FROM seg_counts, (SELECT unnest([10, 20, 40, 80]) AS t) ts
          WHERE seg <= t GROUP BY 1, 2, 3),
        langtot AS (SELECT t, lang, CAST(sum(c) AS BIGINT) AS tot FROM thr GROUP BY 1, 2),
        vocab AS (SELECT DISTINCT t, tok FROM thr),
        vs AS (SELECT t, count(*) AS v FROM vocab GROUP BY 1),
        segdocs AS (
          SELECT lang, $segCase AS seg, count(*) AS nd
          FROM docs WHERE bucket < 80 GROUP BY 1, 2),
        pr0 AS (
          SELECT t, lang, CAST(sum(nd) AS BIGINT) AS nd
          FROM segdocs, (SELECT unnest([10, 20, 40, 80]) AS t) ts
          WHERE seg <= t GROUP BY 1, 2),
        ndt AS (SELECT t, CAST(sum(nd) AS BIGINT) AS ndt FROM pr0 GROUP BY 1),
        priors AS (
          SELECT pr0.t, lang, ${Ql.R("ln(CAST(nd AS DOUBLE) / ndt)", 6)} AS lnprior
          FROM pr0 JOIN ndt ON pr0.t = ndt.t),
        grid AS (
          SELECT lt.t, lt.lang, vb.tok,
                 ${Ql.R("ln((COALESCE(c, 0) + 1.0) / (tot + v))", 6)} AS lnp
          FROM langtot lt
            JOIN vocab vb ON lt.t = vb.t
            LEFT JOIN thr ON thr.t = lt.t AND thr.lang = lt.lang AND thr.tok = vb.tok
            JOIN vs ON vs.t = lt.t),
        testtok AS (
          SELECT doc_id, lang AS true_lang, tok, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                FROM docs WHERE bucket >= 90)
          WHERE len(tok) > 0 GROUP BY 1, 2, 3),
        scores AS (
          SELECT doc_id, true_lang, g.t, g.lang,
                 ${Ql.R(s"${Ql.R("sum(tf * lnp)", 4)} + max(lnprior)", 4)} AS score
          FROM testtok
            JOIN grid g USING (tok)
            JOIN priors p ON g.t = p.t AND g.lang = p.lang
          GROUP BY 1, 2, 3, 4),
        pred AS (
          SELECT doc_id, true_lang, t, lang,
                 row_number() OVER (PARTITION BY doc_id, t
                   ORDER BY score DESC, lang) AS rk
          FROM scores)
        SELECT t AS train_pct, count(*) AS n_test,
               CAST(sum(CASE WHEN lang = true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               ${Ql.R("CAST(sum(CASE WHEN lang = true_lang THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)} AS accuracy
        FROM pred WHERE rk = 1
        GROUP BY 1 ORDER BY 1
      """))
  }

  // ---------------------------------------------------------------- boosted stumps

  /** Two rounds of gradient boosting with regression-stump base learners
    * (squared loss — each round fits the previous round's residuals),
    * predicting event value from hour-of-day then day-of-week. The
    * 100 TB shape: a round is ONE histogram aggregation (24 then 7
    * buckets), the split search runs over the prefix sums of that
    * broadcast-sized histogram, and the chosen split goes back as a
    * 1-row broadcast — corpus passes = round count, exactly like the
    * IRLS fitter above. Exactness: values become integer CENTS, leaf
    * means are rounded to integer cents (floor(x+0.5) — deterministic
    * on both engines), so round-2 residuals and BOTH reported SSEs are
    * exact BIGINT arithmetic end-to-end; the split gain Σl²/nl + Σr²/nr
    * is a double over exact integers (IEEE-identical across engines).
    * Output: one row per round with the split, leaf means, gain, and
    * the post-round SSE — monotonically decreasing by construction.
    */
  private val boostedStumps: QueryDef = {
    val gain = "CAST(sl AS DOUBLE) * sl / nl + CAST(sr AS DOUBLE) * sr / nr"
    QueryDef(
      "q_boosted_stumps",
      (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.events(spark, sfDir)
          .selectExpr("hour(ts) AS h", "(dayofweek(ts) - 1) AS dw",
            s"CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c")
          .checkpointed // 3 passes: 2 histograms + the SSE readout
        // best threshold t: rows with feature < t go left; candidates are
        // the prefix rows of the bounded histogram (≤24 rows — the window
        // below runs over the histogram, never the corpus)
        def bestSplit(hist: DataFrame, featCol: String): DataFrame = {
          val w = Window.orderBy(featCol)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val tot = hist.agg(sum("n").as("nt"), sum("s").as("st"))
          hist
            .withColumn("nl", sum("n").over(w))
            .withColumn("sl", sum("s").over(w))
            .crossJoin(broadcast(tot))
            .filter(col("nl") < col("nt")) // a split must leave a right side
            .selectExpr(s"$featCol + 1 AS thr", "nl", "sl",
              "nt - nl AS nr", "st - sl AS sr")
            .selectExpr("thr", "nl", "nr",
              "CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS mu_l",
              "CAST(floor(CAST(sr AS DOUBLE) / nr + 0.5) AS BIGINT) AS mu_r",
              s"$gain AS g")
            .orderBy(col("g").desc, col("thr")).limit(1)
        }
        val h1 = base.groupBy(col("h")).agg(count(lit(1)).as("n"), sum("c").as("s"))
        val s1 = bestSplit(h1.withColumnRenamed("h", "f"), "f")
          .checkpointed
        val r1 = base.crossJoin(broadcast(s1))
          .selectExpr("dw", "c - CASE WHEN h < thr THEN mu_l ELSE mu_r END AS r")
        val h2 = r1.groupBy(col("dw")).agg(count(lit(1)).as("n"), sum("r").as("s"))
        val s2 = bestSplit(h2.withColumnRenamed("dw", "f"), "f")
          .checkpointed
        val sse = base.crossJoin(broadcast(s1.selectExpr("thr AS t1", "mu_l AS l1", "mu_r AS r1")))
          .crossJoin(broadcast(s2.selectExpr("thr AS t2", "mu_l AS l2", "mu_r AS r2")))
          .selectExpr("c - CASE WHEN h < t1 THEN l1 ELSE r1 END AS e1",
            "dw", "t2", "l2", "r2")
          .selectExpr("e1", "e1 - CASE WHEN dw < t2 THEN l2 ELSE r2 END AS e2")
          .agg(sum(expr("e1 * e1")).as("sse1"), sum(expr("e2 * e2")).as("sse2"))
        val row1 = s1.crossJoin(broadcast(sse))
          .selectExpr("1 AS round", "'hour' AS feature", "CAST(thr AS INT) AS thr",
            "nl", "nr", "mu_l AS mu_l_cents", "mu_r AS mu_r_cents",
            s"${Ql.R("g", 4)} AS gain", "sse1 AS sse_after")
        val row2 = s2.crossJoin(broadcast(sse))
          .selectExpr("2 AS round", "'dow' AS feature", "CAST(thr AS INT) AS thr",
            "nl", "nr", "mu_l AS mu_l_cents", "mu_r AS mu_r_cents",
            s"${Ql.R("g", 4)} AS gain", "sse2 AS sse_after")
        row1.unionByName(row2).orderBy("round")
      },
      Some(s"""
        WITH base AS (
          SELECT hour(ts) AS h, dayofweek(ts) AS dw,
                 CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c
          FROM events),
        h1 AS (SELECT h AS f, count(*) AS n, CAST(sum(c) AS BIGINT) AS s
               FROM base GROUP BY 1),
        p1 AS (
          SELECT f + 1 AS thr,
                 sum(n) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS nl,
                 CAST(sum(s) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
                 (SELECT sum(n) FROM h1) AS nt, (SELECT sum(s) FROM h1) AS st
          FROM h1),
        c1 AS (
          SELECT thr, CAST(nl AS BIGINT) AS nl, CAST(nt - nl AS BIGINT) AS nr,
                 CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS mu_l,
                 CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl) + 0.5) AS BIGINT) AS mu_r,
                 CAST(sl AS DOUBLE) * sl / nl
                   + CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl) AS g
          FROM p1 WHERE nl < nt),
        s1 AS (SELECT * FROM c1 ORDER BY g DESC, thr LIMIT 1),
        r1 AS (
          SELECT dw, c - CASE WHEN h < thr THEN mu_l ELSE mu_r END AS r
          FROM base CROSS JOIN s1),
        h2 AS (SELECT dw AS f, count(*) AS n, CAST(sum(r) AS BIGINT) AS s
               FROM r1 GROUP BY 1),
        p2 AS (
          SELECT f + 1 AS thr,
                 sum(n) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS nl,
                 CAST(sum(s) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
                 (SELECT sum(n) FROM h2) AS nt, (SELECT CAST(sum(s) AS BIGINT) FROM h2) AS st
          FROM h2),
        c2 AS (
          SELECT thr, CAST(nl AS BIGINT) AS nl, CAST(nt - nl AS BIGINT) AS nr,
                 CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS mu_l,
                 CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl) + 0.5) AS BIGINT) AS mu_r,
                 CAST(sl AS DOUBLE) * sl / nl
                   + CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl) AS g
          FROM p2 WHERE nl < nt),
        s2 AS (SELECT * FROM c2 ORDER BY g DESC, thr LIMIT 1),
        sse AS (
          SELECT CAST(sum(e1 * e1) AS BIGINT) AS sse1,
                 CAST(sum(e2 * e2) AS BIGINT) AS sse2
          FROM (
            SELECT e1, e1 - CASE WHEN dw < s2.thr THEN s2.mu_l ELSE s2.mu_r END AS e2
            FROM (
              SELECT dw, c - CASE WHEN h < s1.thr THEN s1.mu_l ELSE s1.mu_r END AS e1
              FROM base CROSS JOIN s1) CROSS JOIN s2))
        SELECT 1 AS round, 'hour' AS feature, CAST(thr AS INT) AS thr, nl, nr,
               mu_l AS mu_l_cents, mu_r AS mu_r_cents,
               ${Ql.R("g", 4)} AS gain, sse1 AS sse_after
        FROM s1 CROSS JOIN sse
        UNION ALL
        SELECT 2 AS round, 'dow' AS feature, CAST(thr AS INT) AS thr, nl, nr,
               mu_l AS mu_l_cents, mu_r AS mu_r_cents,
               ${Ql.R("g", 4)} AS gain, sse2 AS sse_after
        FROM s2 CROSS JOIN sse
        ORDER BY round
      """))
  }

  // ---------------------------------------------------------------- sequential A/B

  /** Sequential A/B monitoring with a √-information boundary — the
    * "peek every week without inflating α" chart (O'Brien–Fleming's
    * shape: boundary(t) = z_final/√fraction, conservative early, 1.96
    * at full information; retrospectively replayed, day d's row
    * is what the monitor showed with the data through that day).
    * Exposure unit = purchase event by event time (every user's FIRST
    * event lands on corpus day 1 in this data, so entry-cohort
    * accumulation would be a single degenerate look); arm assignment is
    * the q_ab_test deterministic hash bucket, conversion its value>180
    * metric. Daily entries collapse to a calendar-bounded table; the
    * cumulative window runs over THAT; the z is the pooled
    * two-proportion statistic on exact integer cumulative counts.
    */
  private val sequentialAb = QueryDef(
    "q_sequential_ab",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val perEvent = Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("d0"),
          (col("value") > 180).cast("long").as("conv"),
          when(expr(SamplingQueries.bucketExpr("user_id")) < 50, "A")
            .otherwise("B").as("arm"))
      val minD = perEvent.agg(min("d0").as("dmin"))
      val look = perEvent.crossJoin(broadcast(minD))
        .selectExpr("CAST(datediff(d0, dmin) AS BIGINT) AS look", "arm", "conv")
        .groupBy("look")
        .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("ea"),
          sum(when(col("arm") === "A", col("conv")).otherwise(0L)).as("ca"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("eb"),
          sum(when(col("arm") === "B", col("conv")).otherwise(0L)).as("cb"))
      val tot = look.agg(sum(col("ea") + col("eb")).as("nt"))
      val w = Window.orderBy("look")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      look
        .withColumn("na", sum("ea").over(w)).withColumn("nb", sum("eb").over(w))
        .withColumn("xa", sum("ca").over(w)).withColumn("xb", sum("cb").over(w))
        .crossJoin(broadcast(tot))
        .selectExpr("look", "na", "nb", "xa", "xb",
          s"${Ql.R("CAST(na + nb AS DOUBLE) / nt", 4)} AS info_frac",
          "CAST(xa + xb AS DOUBLE) / (na + nb) AS pool",
          "CAST(na + nb AS DOUBLE) / nt AS frac")
        .selectExpr("look", "na", "nb", "xa", "xb", "info_frac",
          s"""CASE WHEN pool = 0.0 OR pool = 1.0 THEN 0.0 ELSE
            ${Ql.R("""(CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
              / sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))""", 4)} END AS z""",
          s"${Ql.R("1.96 / sqrt(frac)", 4)} AS boundary")
        .withColumn("crossed", (abs(col("z")) > col("boundary")).cast("int"))
        .orderBy("look")
    },
    Some(s"""
      WITH perEvent AS (
        SELECT CAST(ts AS DATE) AS d0,
               CASE WHEN value > 180 THEN 1 ELSE 0 END AS conv,
               CASE WHEN ${Ql.Md5PrefixLong("CAST(user_id AS VARCHAR)", 4)} % 100 < 50
                 THEN 'A' ELSE 'B' END AS arm
        FROM events WHERE event_type = 'purchase'),
      md AS (SELECT min(d0) AS dmin FROM perEvent),
      look AS (
        SELECT (d0 - dmin) AS look,
               CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ea,
               CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS ca,
               CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS eb,
               CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS cb
        FROM perEvent CROSS JOIN md GROUP BY 1),
      tot AS (SELECT CAST(sum(ea + eb) AS BIGINT) AS nt FROM look),
      c AS (
        SELECT look,
               CAST(sum(ea) OVER win AS BIGINT) AS na,
               CAST(sum(eb) OVER win AS BIGINT) AS nb,
               CAST(sum(ca) OVER win AS BIGINT) AS xa,
               CAST(sum(cb) OVER win AS BIGINT) AS xb,
               nt
        FROM look CROSS JOIN tot
        WINDOW win AS (ORDER BY look ROWS UNBOUNDED PRECEDING)),
      s AS (
        SELECT look, na, nb, xa, xb,
               ${Ql.R("CAST(na + nb AS DOUBLE) / nt", 4)} AS info_frac,
               CAST(xa + xb AS DOUBLE) / (na + nb) AS pool,
               CAST(na + nb AS DOUBLE) / nt AS frac
        FROM c)
      SELECT look, na, nb, xa, xb, info_frac,
             CASE WHEN pool = 0.0 OR pool = 1.0 THEN 0.0 ELSE
               ${Ql.R("""(CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
                 / sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))""", 4)} END AS z,
             ${Ql.R("1.96 / sqrt(frac)", 4)} AS boundary,
             CAST(abs(CASE WHEN pool = 0.0 OR pool = 1.0 THEN 0.0 ELSE
               ${Ql.R("""(CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
                 / sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))""", 4)} END)
               > ${Ql.R("1.96 / sqrt(frac)", 4)} AS INT) AS crossed
      FROM s ORDER BY look
    """))

  // ---------------------------------------------------------------- pairwise post-hoc

  /** Post-hoc pairwise mean comparisons between event types (the step
    * after q_anova's omnibus F): every type pair's mean-value difference
    * with the pooled-variance standard error and a Bonferroni-adjusted
    * significance flag (|z| > 2.81 ≈ the two-sided 5% cut for C(5,2)
    * comparisons). Group moments come from ONE corpus aggregation on
    * exact integer cents; the pair grid is |types|² — report-sized. All
    * arithmetic past the moments is IEEE-on-exact-integers, rounded
    * 4 dp.
    */
  /** Shared pairwise z grid behind q_pairwise_means and
    * q_benjamini_hochberg — every event-type pair's mean-difference z
    * statistic from ONE corpus aggregation of exact integer cents, plus
    * the observed comparison count m = C(k,2). ONE definition so the
    * two multiple-comparison procedures judge identical statistics.
    * Columns: type_a, type_b, n_a, n_b, m, mean_diff, se, z (4 dp).
    */
  private def pairwiseZGrid(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    val g = Tables.events(spark, sfDir)
      .select(col("event_type"), Ql.r(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"), sum(expr("c * c")).as("s2"))
      .checkpointed // |types| rows feed the pooled MSE and the grid
    val pooled = g.agg(
      sum("n").as("nt"), count(lit(1)).as("k"),
      // within-group sum of squares: Σ(s2 - s²/n), exact integer s/s2
      sum(expr("s2 - CAST(s AS DOUBLE) * s / n")).as("ssw"))
      .selectExpr("nt", "k", "ssw / (nt - k) AS mse")
    g.as("a").join(broadcast(g.as("b")),
        col("a.event_type") < col("b.event_type"))
      .crossJoin(broadcast(pooled))
      .selectExpr("a.event_type AS type_a", "b.event_type AS type_b",
        "a.n AS n_a", "b.n AS n_b",
        "k * (k - 1) div 2 AS m", // comparisons from the OBSERVED group count
        s"${Ql.R("(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n) / 100.0", 4)} AS mean_diff",
        s"${Ql.R("sqrt(mse * (1.0 / a.n + 1.0 / b.n)) / 100.0", 4)} AS se",
        s"""${Ql.R("""(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
          / sqrt(mse * (1.0 / a.n + 1.0 / b.n))""", 4)} AS z""")
  }

  /** Oracle-side twin of [[pairwiseZGrid]] — the CTE block both
    * multiple-comparison oracles splice in; `grid` carries the same
    * columns the Spark helper emits.
    */
  private val pairwiseZOracleCtes = s"""
      g AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS s2
        FROM (SELECT event_type, CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c
              FROM events)
        GROUP BY 1),
      pooled AS (
        SELECT sum(n) AS nt, count(*) AS k,
               sum(s2 - CAST(s AS DOUBLE) * s / n) AS ssw
        FROM g),
      p AS (SELECT nt, k, ssw / (nt - k) AS mse FROM pooled),
      grid AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.n AS n_a, b.n AS n_b,
               k * (k - 1) // 2 AS m,
               ${Ql.R("(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n) / 100.0", 4)} AS mean_diff,
               ${Ql.R("sqrt(mse * (1.0 / a.n + 1.0 / b.n)) / 100.0", 4)} AS se,
               ${Ql.R("""(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                 / sqrt(mse * (1.0 / a.n + 1.0 / b.n))""", 4)} AS z
        FROM g a JOIN g b ON a.event_type < b.event_type
        CROSS JOIN p)"""

  private val pairwiseMeans = QueryDef(
    "q_pairwise_means",
    (spark, sfDir) =>
      pairwiseZGrid(spark, sfDir)
        // Bonferroni cut z_{0.05/(2m)} from a shared tabulated ladder —
        // the data decides the comparison count, not a 5-type literal
        // (the q_cramers_v derived-shape lesson)
        .withColumn("sig_bonferroni",
          (abs(col("z")) > expr("CASE WHEN m <= 1 THEN 1.96 WHEN m <= 3 THEN 2.39 WHEN m <= 6 THEN 2.64 WHEN m <= 10 THEN 2.81 WHEN m <= 15 THEN 2.93 WHEN m <= 21 THEN 3.02 ELSE 3.1 END"))
            .cast("int"))
        .drop("m")
        .orderBy("type_a", "type_b"),
    Some(s"""
      WITH $pairwiseZOracleCtes
      SELECT type_a, type_b, n_a, n_b, mean_diff, se, z,
             CAST(abs(z)
               > (CASE WHEN m <= 1 THEN 1.96
                       WHEN m <= 3 THEN 2.39
                       WHEN m <= 6 THEN 2.64
                       WHEN m <= 10 THEN 2.81
                       WHEN m <= 15 THEN 2.93
                       WHEN m <= 21 THEN 3.02 ELSE 3.1 END)
               AS INT) AS sig_bonferroni
      FROM grid
      ORDER BY 1, 2
    """))

  /** Two-sided normal p-value text shared verbatim by both engines
    * (fact #25 shared-formula discipline): p = erfc(|z|/√2) via the
    * Abramowitz–Stegun 7.1.26 rational approximation (max abs error
    * 1.5e-7 — far below the 6 dp report rounding). `x`/`t` are column
    * names the caller's previous projection must define; every op is a
    * basic IEEE +,*,/ on identical doubles except the final exp, whose
    * argument −x² is identical in both engines (z is pre-rounded 4 dp)
    * so a libm-vs-JVM ulp can only surface exactly at a 6 dp boundary
    * (the q_lm_perplexity round-before-exp discipline).
    */
  private val normalPSql =
    """((((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
        - 0.284496736) * t + 0.254829592) * t) * exp(-(x * x)))"""

  /** Benjamini–Hochberg FDR step-up (Benjamini & Hochberg 1995, public)
    * over the SAME pairwise mean-comparison grid q_pairwise_means
    * Bonferroni-gates — the two procedures differ exactly when m grows,
    * which is the multiple-testing regime a many-segment corpus
    * dashboard lives in. From the shared [[pairwiseZGrid]]: two-sided
    * p per pair (A&S erfc, 6 dp), ascending p-rank k (deterministic
    * (p, type_a, type_b) tiebreak — ties share p, so the step-up cutoff
    * is tie-order-invariant), BH threshold k·α/m at α = 0.05, and
    * reject ranks ≤ max{k : p₍ₖ₎ ≤ k·α/m}. The step-up scan and rank
    * window run on the m ≤ C(|types|,2) grid — report-sized however
    * large the corpus (PlanSpec bounded-window whitelist), and the
    * corpus itself is touched by exactly one keyed aggregation.
    */
  private val benjaminiHochberg = QueryDef(
    "q_benjamini_hochberg",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = pairwiseZGrid(spark, sfDir)
        .selectExpr("type_a", "type_b", "m", "z", "abs(z) / sqrt(2.0) AS x")
        .withColumn("t", expr("1.0 / (1.0 + 0.3275911 * x)"))
        .withColumn("p_value", Ql.r(expr(normalPSql), 6))
        .checkpointed // grid-sized; feeds the rank scan twice
      val ranked = scored
        .withColumn("k",
          row_number().over(Window.orderBy("p_value", "type_a", "type_b"))
            .cast("long"))
        .withColumn("bh_threshold",
          Ql.r(col("k").cast("double") * lit(0.05) / col("m"), 6))
      val cutoff = ranked.filter(col("p_value") <= col("bh_threshold"))
        .agg(coalesce(max("k"), lit(0L)).as("kmax"))
      ranked.crossJoin(broadcast(cutoff))
        .withColumn("sig_bh", (col("k") <= col("kmax")).cast("int"))
        .select(col("type_a"), col("type_b"), col("z"), col("p_value"),
          col("k"), col("bh_threshold"), col("sig_bh"))
        .orderBy("type_a", "type_b")
    },
    Some(s"""
      WITH $pairwiseZOracleCtes,
      xs AS (
        SELECT type_a, type_b, m, z, abs(z) / sqrt(2.0) AS x FROM grid),
      ts AS (
        SELECT type_a, type_b, m, z, x, 1.0 / (1.0 + 0.3275911 * x) AS t
        FROM xs),
      scored AS (
        SELECT type_a, type_b, m, z,
               ${Ql.R(normalPSql, 6)} AS p_value
        FROM ts),
      ranked AS (
        SELECT type_a, type_b, z, p_value,
               CAST(row_number() OVER (ORDER BY p_value, type_a, type_b)
                 AS BIGINT) AS k,
               ${Ql.R("CAST(row_number() OVER (ORDER BY p_value, type_a, type_b) AS DOUBLE) * 0.05 / m", 6)}
                 AS bh_threshold
        FROM scored),
      cutoff AS (
        SELECT CAST(coalesce(max(k), 0) AS BIGINT) AS kmax
        FROM ranked WHERE p_value <= bh_threshold)
      SELECT type_a, type_b, z, p_value, k, bh_threshold,
             CAST(k <= kmax AS INT) AS sig_bh
      FROM ranked CROSS JOIN cutoff
      ORDER BY type_a, type_b
    """))

  /** Split-conformal prediction intervals (Papadopoulos et al. 2002;
    * Vovk et al. 2005; Lei et al. 2018, public) for a per-(type, hour)
    * mean-value predictor — the distribution-free uncertainty wrapper
    * every deployed scorer needs: with a 60/20/20 hash split, the 90%
    * interval half-width is the ⌈(n_cal+1)·0.9⌉-th smallest calibration
    * residual, and finite-sample theory guarantees ≥90% test coverage
    * with NO assumption on the value distribution. Everything decisive
    * is exact-integer: predictions are cent-rounded BIGINTs from the
    * train moment grid (|types|×24 rows, broadcast), residuals are
    * integer cents, the order statistic comes from a cumulative count
    * over the per-type residual-cent grid (≤49k cells/type by the
    * 2-decimal value domain — the q_median_ci pattern), and the
    * ⌈·⌉ rank is integer arithmetic (9·(n+1)+9) div 10. A type whose
    * calibration split is smaller than the rank gets q̂ = +∞ per the
    * theory (NULL half-width, coverage 1.0) instead of vanishing. The
    * corpus sees three keyed aggregations (train moments, calibration
    * grid, test coverage); nothing unbounded.
    */
  private val conformalInterval = QueryDef(
    "q_conformal_interval",
    (spark, sfDir) => {
      val base = Tables.events(spark, sfDir)
        .select(col("event_type"), hour(col("ts")).as("hr"),
          Ql.r(col("value") * 100, 0).cast("long").as("y"),
          expr(SamplingQueries.bucketExpr("event_id")).as("b"))
      val model = base.filter(col("b") < 60)
        .groupBy("event_type", "hr")
        .agg(sum("y").as("sx"), count(lit(1)).as("n"))
        .selectExpr("event_type", "hr",
          s"CAST(${Ql.R("CAST(sx AS DOUBLE) / n", 0)} AS BIGINT) AS yhat")
        .checkpointed // |types|×24 rows
      val cal = base.filter(col("b") >= 60 && col("b") < 80)
        .join(broadcast(model), Seq("event_type", "hr"))
        .select(col("event_type"), abs(col("y") - col("yhat")).as("r"))
      val calN = cal.groupBy("event_type").agg(count(lit(1)).as("n_cal"))
      val grid = cal.groupBy("event_type", "r").agg(count(lit(1)).as("c"))
      val cum = grid
        .withColumn("cum", sum("c").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy("r")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val qhat = cum.join(broadcast(calN), "event_type")
        .filter(col("cum") >= expr("(9 * (n_cal + 1) + 9) div 10"))
        .groupBy("event_type").agg(min("r").as("q90"))
      // LEFT joins + the IS NULL arm: a type whose calibration split is
      // smaller than the ⌈·⌉ rank has q̂ = +∞ per split-conformal theory
      // (the interval covers everything) — it must report a NULL
      // half-width and coverage 1.0, not vanish from the output
      // (review finding)
      val test = base.filter(col("b") >= 80)
        .join(broadcast(model), Seq("event_type", "hr"))
        .join(broadcast(qhat), Seq("event_type"), "left")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_test"),
          sum((col("q90").isNull || abs(col("y") - col("yhat")) <= col("q90"))
            .cast("long")).as("n_covered"))
      test.join(broadcast(calN), Seq("event_type"), "left")
        .join(broadcast(qhat), Seq("event_type"), "left")
        .selectExpr("event_type",
          "CAST(coalesce(n_cal, 0) AS BIGINT) AS n_cal", "n_test",
          s"""CASE WHEN q90 IS NULL THEN CAST(NULL AS DOUBLE)
            ELSE ${Ql.R("q90 / 100.0", 2)} END AS half_width""",
          s"${Ql.R("CAST(n_covered AS DOUBLE) / n_test", 4)} AS coverage")
        .orderBy("event_type")
    },
    Some(s"""
      WITH base AS MATERIALIZED (
        SELECT event_type, hour(ts) AS hr,
               CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS y,
               ${Ql.Md5PrefixLong("CAST(event_id AS VARCHAR)", 4)} % 100 AS b
        FROM events),
      model AS MATERIALIZED (
        SELECT event_type, hr,
               CAST(${Ql.R("CAST(sum(y) AS DOUBLE) / count(*)", 0)} AS BIGINT) AS yhat
        FROM base WHERE b < 60 GROUP BY 1, 2),
      cal AS MATERIALIZED (
        SELECT base.event_type, abs(y - yhat) AS r
        FROM base JOIN model
          ON base.event_type = model.event_type AND base.hr = model.hr
        WHERE b >= 60 AND b < 80),
      caln AS MATERIALIZED (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal
        FROM cal GROUP BY 1),
      grid AS (
        SELECT event_type, r, count(*) AS c FROM cal GROUP BY 1, 2),
      cum AS (
        SELECT event_type, r,
               CAST(sum(c) OVER (PARTITION BY event_type ORDER BY r
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM grid),
      qhat AS MATERIALIZED (
        SELECT cum.event_type, CAST(min(r) AS BIGINT) AS q90
        FROM cum JOIN caln ON cum.event_type = caln.event_type
        WHERE cum >= (9 * (n_cal + 1) + 9) // 10
        GROUP BY 1),
      test AS (
        SELECT base.event_type, count(*) AS n_test,
               CAST(sum(CASE WHEN q90 IS NULL OR abs(y - yhat) <= q90
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        FROM base
        JOIN model ON base.event_type = model.event_type AND base.hr = model.hr
        LEFT JOIN qhat ON base.event_type = qhat.event_type
        WHERE b >= 80
        GROUP BY 1)
      SELECT t.event_type,
             CAST(coalesce(c.n_cal, 0) AS BIGINT) AS n_cal, t.n_test,
             CASE WHEN q.q90 IS NULL THEN CAST(NULL AS DOUBLE)
                  ELSE ${Ql.R("q.q90 / 100.0", 2)} END AS half_width,
             ${Ql.R("CAST(t.n_covered AS DOUBLE) / t.n_test", 4)} AS coverage
      FROM test t
      LEFT JOIN caln c ON t.event_type = c.event_type
      LEFT JOIN qhat q ON t.event_type = q.event_type
      ORDER BY t.event_type
    """))

  /** Nearest-neighbor matching ATT (Rubin 1973; Rosenbaum & Rubin 1983's
    * matching-on-a-balancing-score shape, public): the treatment effect
    * of a signup-first start on purchase revenue, matching each treated user to
    * controls at the nearest activity level within a caliper — the
    * matching complement to q_strat_ate's stratification and q_cuped's
    * regression adjustment. Matching runs on the DISTINCT-score grids
    * (activity-count domains, value-bounded like the cent grids), never
    * user×user: treated-score × control-score theta-join within caliper
    * 5, nearest by (|Δ|, control score) rank, and matched-control
    * outcome = the mean at that score (matching with replacement,
    * averaging score ties — deterministic, no per-user tiebreak). Per
    * treated user the (y_t − ȳ_c) term becomes an exact micro-cent
    * BIGINT before summation. Reports the naive mean gap next to the
    * matched ATT; the corpus sees one per-user aggregation.
    */
  /** The grid-matching estimator over a prepared (s, y, treated) user
    * frame — exposed so ScaleSmokeSpec can drive the SAME code at 5M
    * users with a planted effect. `caliper` bounds the score distance.
    * Returns one row: n_treated, n_matched, n_control, naive_diff, att
    * (both in currency units = cents/100).
    */
  private[graft] def matchingAttOf(users0: org.apache.spark.sql.DataFrame,
      caliper: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = users0.checkpointed // feeds grids, naive means, match join
    val cGrid = users.filter(col("treated") === 0)
      .groupBy("s").agg(count(lit(1)).as("cn"), sum("y").as("cy"))
    val tGrid = users.filter(col("treated") === 1)
      .select(col("s").as("ts")).distinct()
    val nearest = tGrid
      .join(broadcast(cGrid), abs(col("ts") - col("s")) <= caliper)
      .withColumn("rn", row_number().over(
        Window.partitionBy("ts").orderBy(abs(col("ts") - col("s")), col("s"))))
      .filter(col("rn") === 1)
      .select(col("ts"), col("cn"), col("cy"))
    val matched = users.filter(col("treated") === 1)
      .join(broadcast(nearest), col("s") === col("ts"), "left")
    val naive = users.agg(
      sum(when(col("treated") === 1, col("y"))).as("ty"),
      sum(col("treated").cast("long")).as("tn"),
      sum(when(col("treated") === 0, col("y"))).as("cy0"),
      sum(lit(1) - col("treated")).cast("long").as("cn0"))
    matched.agg(
        count(lit(1)).as("n_treated"),
        sum(col("ts").isNotNull.cast("long")).as("n_matched"),
        sum(when(col("ts").isNotNull,
          expr(s"CAST(${Ql.R("(y - CAST(cy AS DOUBLE) / cn) * 10000", 0)} AS BIGINT)"))
          .otherwise(0L)).as("att_u"))
      .crossJoin(broadcast(naive))
      .selectExpr("n_treated", "n_matched", "cn0 AS n_control",
        s"${Ql.R("(CAST(ty AS DOUBLE) / tn - CAST(cy0 AS DOUBLE) / cn0) / 100.0", 2)} AS naive_diff",
        s"${Ql.R("CAST(att_u AS DOUBLE) / 1e4 / n_matched / 100.0", 2)} AS att")
  }

  private val matchingAtt = QueryDef(
    "q_matching_att",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      matchingAttOf(Tables.events(spark, sfDir)
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("s"),
          sum(when(col("event_type") === "purchase",
            Ql.r(col("value") * 100, 0).cast("long")).otherwise(0L)).as("y"),
          // treatment = the user's FIRST event is a signup (an onboarding
          // cohort, ~1/|types| of users) — "ever signed up" is degenerate
          // here: every user eventually signs up
          max(when(col("rn") === 1 && col("event_type") === "signup", 1)
            .otherwise(0)).as("treated")))
    },
    Some(s"""
      WITH users AS MATERIALIZED (
        SELECT user_id, count(*) AS s,
               CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(${Ql.R("value * 100", 0)} AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS y,
               max(CASE WHEN rn = 1 AND event_type = 'signup' THEN 1 ELSE 0 END)
                 AS treated
        FROM (SELECT user_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS rn
              FROM events)
        GROUP BY 1),
      cgrid AS (
        SELECT s, CAST(count(*) AS BIGINT) AS cn, CAST(sum(y) AS BIGINT) AS cy
        FROM users WHERE treated = 0 GROUP BY 1),
      tgrid AS (SELECT DISTINCT s AS ts FROM users WHERE treated = 1),
      nearest AS MATERIALIZED (
        SELECT ts, cn, cy FROM (
          SELECT t.ts, c.cn, c.cy,
                 row_number() OVER (PARTITION BY t.ts
                   ORDER BY abs(t.ts - c.s), c.s) AS rn
          FROM tgrid t JOIN cgrid c ON abs(t.ts - c.s) <= 5)
        WHERE rn = 1),
      naive AS (
        SELECT CAST(sum(CASE WHEN treated = 1 THEN y END) AS BIGINT) AS ty,
               CAST(sum(treated) AS BIGINT) AS tn,
               CAST(sum(CASE WHEN treated = 0 THEN y END) AS BIGINT) AS cy0,
               CAST(sum(1 - treated) AS BIGINT) AS cn0
        FROM users),
      m AS (
        SELECT count(*) AS n_treated,
               CAST(sum(CASE WHEN n.ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_matched,
               CAST(sum(CASE WHEN n.ts IS NOT NULL
                 THEN CAST(${Ql.R("(u.y - CAST(n.cy AS DOUBLE) / n.cn) * 10000", 0)} AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS att_u
        FROM users u LEFT JOIN nearest n ON u.s = n.ts
        WHERE u.treated = 1)
      SELECT n_treated, n_matched, cn0 AS n_control,
             ${Ql.R("(CAST(ty AS DOUBLE) / tn - CAST(cy0 AS DOUBLE) / cn0) / 100.0", 2)} AS naive_diff,
             ${Ql.R("CAST(att_u AS DOUBLE) / 1e4 / n_matched / 100.0", 2)} AS att
      FROM m CROSS JOIN naive
    """))

  // ---------------------------------------------------------------- trimmed mean

  /** 5%-trimmed mean of the event value per type — the robust location
    * estimate that survives fat tails without q_winsorize's clamping.
    * Entirely exact integer arithmetic on the bounded cent grid: the
    * trim bounds are integer ranks lo = (5n) div 100 and hi = (95n) div
    * 100, each grid cell contributes min(cum, hi) − max(cum_prev, lo)
    * of its rows (clamped at 0) to the kept mass, and the kept cent sum
    * is exact — one final rounded divide. The only window runs over the
    * ≤49k-cell grid partitioned by type.
    */
  private val trimmedMean = QueryDef(
    "q_trimmed_mean",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val grid = Tables.events(spark, sfDir)
        .select(col("event_type"), Ql.r(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = grid.groupBy("event_type").agg(sum("cnt").as("n"))
      grid
        .withColumn("cum", sum("cnt").over(w))
        .join(broadcast(tot), "event_type")
        .selectExpr("event_type", "c", "n", "cum", "cum - cnt AS cum0",
          "(5 * n) div 100 AS lo", "(95 * n) div 100 AS hi")
        .selectExpr("event_type", "c", "n", "lo", "hi",
          "greatest(0L, least(cum, hi) - greatest(cum0, lo)) AS kept")
        .groupBy("event_type")
        .agg(max("n").as("n"), max(col("hi") - col("lo")).as("n_kept"),
          sum(expr("c * kept")).as("kept_cents"))
        .selectExpr("event_type", "n", "n_kept",
          s"${Ql.R("CAST(kept_cents AS DOUBLE) / n_kept / 100.0", 4)} AS trimmed_mean")
        .orderBy("event_type")
    },
    Some(s"""
      WITH grid AS (
        SELECT event_type, CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM grid GROUP BY 1),
      cdf AS (
        SELECT event_type, c, cnt,
               CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM grid),
      k AS (
        SELECT cdf.event_type, c, n,
               (5 * n) // 100 AS lo, (95 * n) // 100 AS hi,
               greatest(0, least(cum, (95 * n) // 100)
                 - greatest(cum - cnt, (5 * n) // 100)) AS kept
        FROM cdf JOIN tot ON cdf.event_type = tot.event_type)
      SELECT event_type, max(n) AS n,
             CAST(max(hi - lo) AS BIGINT) AS n_kept,
             ${Ql.R("CAST(sum(c * kept) AS DOUBLE) / max(hi - lo) / 100.0", 4)} AS trimmed_mean
      FROM k GROUP BY 1 ORDER BY 1
    """))

  // ---------------------------------------------------------------- binary segmentation

  /** Two-level binary segmentation of the daily revenue series — the
    * classic multiple-changepoint detector (the CUSUM/changepoint family
    * generalized past one break): find the split of the day-ordered
    * totals that maximizes the two-segment SSE gain, then search each
    * side and report the better second break. The series is the
    * calendar-bounded daily table (≤ days-in-window rows), totals exact
    * cents, the gain Σl²/nl + Σr²/nr a double over exact integers —
    * IEEE-identical across engines, argmax tiebroken on the day. The
    * corpus contributes ONE aggregation; both search rounds run on the
    * tiny series.
    */
  private val changepointBinseg: QueryDef = {
    QueryDef(
      "q_changepoint_binseg",
      (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(spark, sfDir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(Ql.r(col("value") * 100, 0).cast("long")).as("x"))
          .checkpointed // the tiny series feeds both rounds
        // best split of a day-ordered segment: rows with day < split go
        // left; gain relative to the segment's own mean-only SSE
        def bestSplit(seg: DataFrame, segName: String): DataFrame = {
          val w = Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val tot = seg.agg(count(lit(1)).as("nt"), sum("x").as("st"))
          seg
            .withColumn("nl", sum(lit(1L)).over(w))
            .withColumn("sl", sum("x").over(w))
            .crossJoin(broadcast(tot))
            .filter(col("nl") < col("nt"))
            .selectExpr(s"'$segName' AS segment", "day AS split_after",
              "nl", "nt - nl AS nr",
              """CAST(sl AS DOUBLE) * sl / nl + CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl)
                 - CAST(st AS DOUBLE) * st / nt AS gain""",
              "CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS mean_l_cents",
              "CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl) + 0.5) AS BIGINT) AS mean_r_cents")
            .orderBy(col("gain").desc, col("split_after")).limit(1)
        }
        val s1 = bestSplit(daily, "full").checkpointed
        val left = daily.crossJoin(broadcast(s1.select(col("split_after").as("cut"))))
          .filter(col("day") <= col("cut")).select("day", "x")
        val right = daily.crossJoin(broadcast(s1.select(col("split_after").as("cut"))))
          .filter(col("day") > col("cut")).select("day", "x")
        val s2 = bestSplit(left, "left").unionByName(bestSplit(right, "right"))
          .orderBy(col("gain").desc, col("split_after")).limit(1)
        s1.unionByName(s2)
          .selectExpr("segment", "CAST(split_after AS STRING) AS split_after",
            "nl", "nr", "mean_l_cents", "mean_r_cents",
            s"${Ql.R("gain / 10000.0", 2)} AS gain_dollars_sq")
          .orderBy(col("segment"))
      },
      Some(s"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(${Ql.R("value * 100", 0)} AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY 1),
        p1 AS (
          SELECT day,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS nl,
                 CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
                 (SELECT count(*) FROM daily) AS nt,
                 (SELECT CAST(sum(x) AS BIGINT) FROM daily) AS st
          FROM daily),
        c1 AS (
          SELECT 'full' AS segment, day AS split_after, nl, nt - nl AS nr,
                 CAST(sl AS DOUBLE) * sl / nl
                   + CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl)
                   - CAST(st AS DOUBLE) * st / nt AS gain,
                 CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS mean_l_cents,
                 CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl) + 0.5) AS BIGINT) AS mean_r_cents
          FROM p1 WHERE nl < nt),
        s1 AS (SELECT * FROM c1 ORDER BY gain DESC, split_after LIMIT 1),
        lseg AS (SELECT day, x FROM daily WHERE day <= (SELECT split_after FROM s1)),
        rseg AS (SELECT day, x FROM daily WHERE day > (SELECT split_after FROM s1)),
        pl AS (
          SELECT day,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS nl,
                 CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
                 (SELECT count(*) FROM lseg) AS nt,
                 (SELECT CAST(sum(x) AS BIGINT) FROM lseg) AS st
          FROM lseg),
        cl AS (
          SELECT 'left' AS segment, day AS split_after, nl, nt - nl AS nr,
                 CAST(sl AS DOUBLE) * sl / nl
                   + CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl)
                   - CAST(st AS DOUBLE) * st / nt AS gain,
                 CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS mean_l_cents,
                 CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl) + 0.5) AS BIGINT) AS mean_r_cents
          FROM pl WHERE nl < nt),
        pr AS (
          SELECT day,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS nl,
                 CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
                 (SELECT count(*) FROM rseg) AS nt,
                 (SELECT CAST(sum(x) AS BIGINT) FROM rseg) AS st
          FROM rseg),
        cr AS (
          SELECT 'right' AS segment, day AS split_after, nl, nt - nl AS nr,
                 CAST(sl AS DOUBLE) * sl / nl
                   + CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl)
                   - CAST(st AS DOUBLE) * st / nt AS gain,
                 CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS mean_l_cents,
                 CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl) + 0.5) AS BIGINT) AS mean_r_cents
          FROM pr WHERE nl < nt),
        s2 AS (SELECT * FROM (SELECT * FROM cl UNION ALL SELECT * FROM cr)
               ORDER BY gain DESC, split_after LIMIT 1)
        SELECT segment, CAST(split_after AS VARCHAR) AS split_after, nl, nr,
               mean_l_cents, mean_r_cents,
               ${Ql.R("gain / 10000.0", 2)} AS gain_dollars_sq
        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        ORDER BY segment
      """))
  }

  // ---------------------------------------------------------------- off-policy eval

  /** Inverse-propensity-scored off-policy evaluation — "what would THIS
    * targeting rule have converted, from logs of a DIFFERENT policy",
    * the counterfactual estimate behind every bandit/uplift readout.
    * Logging policy: the q_ab_test 50/50 hash assignment (known
    * propensity 0.5). Target policy π: treat (arm A) iff user_id is
    * even. IPS value = mean over users of 1{logged==π(u)}·reward/0.5 —
    * with p=0.5 that's exact integer arithmetic (2·Σ matched rewards /
    * n); the self-normalized SNIPS variant (Σwr/Σw) divides matched
    * rewards by matched count. The realized logging-policy mean rides
    * along as the baseline. One per-user aggregation; everything after
    * is integer divides rounded 4 dp.
    */
  private val ipsPolicyValue = QueryDef(
    "q_ips_policy_value",
    (spark, sfDir) => {
      val u = Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(max((col("event_type") === "purchase" && col("value") > 180).cast("long"))
          .as("r"))
        .selectExpr("user_id", "r",
          s"CASE WHEN ${SamplingQueries.bucketExpr("user_id")} < 50 THEN 'A' ELSE 'B' END AS logged",
          "CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS target")
      u.agg(count(lit(1)).as("n"),
          sum("r").as("r_all"),
          sum(when(col("logged") === col("target"), 1L).otherwise(0L)).as("n_match"),
          sum(when(col("logged") === col("target"), col("r")).otherwise(0L)).as("r_match"))
        .selectExpr("n", "n_match",
          s"${Ql.R("CAST(r_all AS DOUBLE) / n", 4)} AS logged_value",
          s"${Ql.R("2.0 * r_match / n", 4)} AS ips_value",
          s"${Ql.R("CAST(r_match AS DOUBLE) / n_match", 4)} AS snips_value")
    },
    Some(s"""
      WITH u AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' AND value > 180 THEN 1 ELSE 0 END) AS r,
               CASE WHEN ${Ql.Md5PrefixLong("CAST(user_id AS VARCHAR)", 4)} % 100 < 50
                 THEN 'A' ELSE 'B' END AS logged,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS target
        FROM events GROUP BY user_id)
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN logged = target THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
             ${Ql.R("CAST(sum(r) AS DOUBLE) / count(*)", 4)} AS logged_value,
             ${Ql.R("2.0 * sum(CASE WHEN logged = target THEN r ELSE 0 END) / count(*)", 4)} AS ips_value,
             ${Ql.R("""CAST(sum(CASE WHEN logged = target THEN r ELSE 0 END) AS DOUBLE)
               / sum(CASE WHEN logged = target THEN 1 ELSE 0 END)""", 4)} AS snips_value
      FROM u
    """))

  // ---------------------------------------------------------------- design effect

  /** Survey/experiment design effect of user clustering — when
    * randomization is per USER but the metric is per EVENT, responses
    * within a user correlate and the effective sample size shrinks by
    * DEFF = 1 + (m̄−1)·ICC (Kish). ICC comes from the one-way ANOVA
    * variance components (MSB/MSW over users) on exact integer cents;
    * m̄ is the mean events-per-user. Everything is two keyed
    * aggregations + IEEE arithmetic on exact sums, rounded 4 dp — the
    * number that says how badly a naive per-event z-test overstates
    * significance.
    */
  private val designEffect = QueryDef(
    "q_design_effect",
    (spark, sfDir) => {
      val perUser = Tables.events(spark, sfDir)
        .select(col("user_id"), Ql.r(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("m"), sum("c").as("s"), sum(expr("c * c")).as("s2"))
      perUser.agg(
          count(lit(1)).as("k"), sum("m").as("n"),
          sum("s").as("st"), sum("s2").as("s2t"),
          sum(expr("CAST(s AS DOUBLE) * s / m")).as("ssb"))
        .selectExpr("k", "n",
          // SSW = Σ(s2_u − s_u²/m_u); SSB = Σ s_u²/m_u − (Σs)²/n
          "(s2t - ssb) / (n - k) AS msw",
          "(ssb - CAST(st AS DOUBLE) * st / n) / (k - 1) AS msb",
          "CAST(n AS DOUBLE) / k AS mbar")
        .selectExpr("k AS n_users", "n AS n_events",
          s"${Ql.R("mbar", 4)} AS mean_events_per_user",
          s"${Ql.R("(msb - msw) / (msb + (mbar - 1.0) * msw)", 4)} AS icc",
          s"${Ql.R("1.0 + (mbar - 1.0) * ((msb - msw) / (msb + (mbar - 1.0) * msw))", 4)} AS deff")
    },
    Some(s"""
      WITH pu AS (
        SELECT user_id, count(*) AS m,
               CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS s2
        FROM (SELECT user_id, CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c
              FROM events)
        GROUP BY 1),
      a AS (
        SELECT count(*) AS k, CAST(sum(m) AS BIGINT) AS n,
               CAST(sum(s) AS BIGINT) AS st, CAST(sum(s2) AS BIGINT) AS s2t,
               sum(CAST(s AS DOUBLE) * s / m) AS ssb
        FROM pu),
      b AS (
        SELECT k, n,
               (s2t - ssb) / (n - k) AS msw,
               (ssb - CAST(st AS DOUBLE) * st / n) / (k - 1) AS msb,
               CAST(n AS DOUBLE) / k AS mbar
        FROM a)
      SELECT k AS n_users, n AS n_events,
             ${Ql.R("mbar", 4)} AS mean_events_per_user,
             ${Ql.R("(msb - msw) / (msb + (mbar - 1.0) * msw)", 4)} AS icc,
             ${Ql.R("1.0 + (mbar - 1.0) * ((msb - msw) / (msb + (mbar - 1.0) * msw))", 4)} AS deff
      FROM b
    """))

  // ---------------------------------------------------------------- ratio-metric CI

  /** Delta-method confidence interval for a RATIO metric (revenue per
    * event) per experiment arm — the correct error bar where naive
    * per-event treatment ignores that both numerator and denominator
    * are random per user (Deng et al.'s ratio-metric correction).
    * Var(X̄/Ȳ) ≈ (1/n)·(σ²ₓ − 2R·σₓᵧ + R²·σ²ᵧ)/Ȳ², with per-user
    * (revenue cents, event count) moments — all exact integers into
    * IEEE formula text, rounded 4 dp. Reports each arm's ratio and
    * 95% CI.
    */
  private val ratioMetricCi = QueryDef(
    "q_ratio_metric_ci",
    (spark, sfDir) => {
      val u = Tables.events(spark, sfDir)
        .select(col("user_id"), Ql.r(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("x"), count(lit(1)).as("y"))
        .withColumn("arm",
          when(expr(SamplingQueries.bucketExpr("user_id")) < 50, "A").otherwise("B"))
      u.groupBy("arm")
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DOUBLE) * x")).as("sxx"),
          sum(expr("CAST(x AS DOUBLE) * y")).as("sxy"),
          sum(expr("CAST(y AS DOUBLE) * y")).as("syy"))
        .selectExpr("arm", "n", "sx", "sy",
          "CAST(sx AS DOUBLE) / n AS mx", "CAST(sy AS DOUBLE) / n AS my",
          "(sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS vx",
          "(sxy - CAST(sx AS DOUBLE) * sy / n) / (n - 1) AS cxy",
          "(syy - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vy")
        .selectExpr("arm", "n", "mx / my AS r",
          "sqrt((vx - 2.0 * (mx / my) * cxy + (mx / my) * (mx / my) * vy) / n) / my AS se")
        .selectExpr("arm", "n",
          s"${Ql.R("r / 100.0", 4)} AS rev_per_event",
          s"${Ql.R("(r - 1.96 * se) / 100.0", 4)} AS ci_lo",
          s"${Ql.R("(r + 1.96 * se) / 100.0", 4)} AS ci_hi")
        .orderBy("arm")
    },
    Some(s"""
      WITH u AS (
        SELECT user_id, CAST(sum(c) AS BIGINT) AS x, count(*) AS y,
               CASE WHEN ${Ql.Md5PrefixLong("CAST(user_id AS VARCHAR)", 4)} % 100 < 50
                 THEN 'A' ELSE 'B' END AS arm
        FROM (SELECT user_id, CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c
              FROM events)
        GROUP BY user_id),
      m AS (
        SELECT arm, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS DOUBLE) * x) AS sxx,
               sum(CAST(x AS DOUBLE) * y) AS sxy,
               sum(CAST(y AS DOUBLE) * y) AS syy
        FROM u GROUP BY 1),
      v AS (
        SELECT arm, n,
               CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
               (sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS vx,
               (sxy - CAST(sx AS DOUBLE) * sy / n) / (n - 1) AS cxy,
               (syy - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vy
        FROM m),
      s AS (
        SELECT arm, n, mx / my AS r,
               sqrt((vx - 2.0 * (mx / my) * cxy + (mx / my) * (mx / my) * vy) / n) / my AS se
        FROM v)
      SELECT arm, n,
             ${Ql.R("r / 100.0", 4)} AS rev_per_event,
             ${Ql.R("(r - 1.96 * se) / 100.0", 4)} AS ci_lo,
             ${Ql.R("(r + 1.96 * se) / 100.0", 4)} AS ci_hi
      FROM s ORDER BY arm
    """))

  // ---------------------------------------------------------------- Theil–Sen slope

  /** Theil–Sen estimator over the daily revenue series — the robust
    * trend slope (median of all pairwise slopes) that a single outlier
    * day cannot move, unlike the OLS q_linear_trend. The corpus work is
    * one daily aggregation to exact cents; the pairwise stage is a
    * calendar-bounded self-join (30 days ⇒ 435 pairs, report-sized
    * forever — days grow with TIME, not data volume), and the median is
    * taken exactly as the mean of the two middle order statistics so
    * both engines select identical rows. Slope reported in dollars/day.
    */
  private val theilSen = QueryDef(
    "q_theil_sen",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(spark, sfDir)
        .select(to_date(col("ts")).as("day"),
          Ql.r(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("day").agg(sum("c").as("c"))
        .checkpointed // feeds both join sides + the day count
      val slopes = daily.select(col("day").as("d1"), col("c").as("c1"))
        .join(daily.select(col("day").as("d2"), col("c").as("c2")),
          col("d1") < col("d2"))
        .select(((col("c2") - col("c1")).cast("double") /
          datediff(col("d2"), col("d1"))).as("slope"))
      val w = Window.orderBy("slope") // 435-row pair frame, calendar-bounded
      slopes.withColumn("rn", row_number().over(w))
        .crossJoin(broadcast(slopes.agg(count(lit(1)).as("np"))))
        .filter(col("rn") === expr("(np + 1) div 2") ||
          col("rn") === expr("(np + 2) div 2"))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
        .groupBy("n_days", "np")
        .agg(Ql.r(avg(col("slope")) / 100.0, 4).as("slope_dollars_per_day"))
        .select(col("n_days"), col("np").as("n_pairs"),
          col("slope_dollars_per_day"))
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(${Ql.R("value * 100", 0)} AS BIGINT)) AS BIGINT) AS c
        FROM events GROUP BY 1),
      pairs AS (
        SELECT CAST(b.c - a.c AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
        FROM daily a JOIN daily b ON a.day < b.day),
      r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM pairs),
      np AS (SELECT count(*) AS np FROM pairs),
      nd AS (SELECT count(*) AS n_days FROM daily)
      SELECT n_days, np AS n_pairs,
             ${Ql.R("avg(slope) / 100.0", 4)} AS slope_dollars_per_day
      FROM r, np, nd
      WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
      GROUP BY n_days, np
    """))

  // ---------------------------------------------------------------- runs test

  /** Wald–Wolfowitz runs test on the daily revenue series: are the
    * above/below-cutoff signs random in time, or do they cluster (trend /
    * regime) or alternate (overcorrection)? The cutoff is the lower
    * median — the ceil(n/2)-th order statistic, a member of the series, so
    * "equal to cutoff" is well-defined and those days are excluded per
    * the classic test. Runs are counted with one lag over the
    * calendar-bounded daily frame; n₁, n₂, R are exact integers into the
    * shared normal-approximation formula z = (R − μ)/σ with
    * μ = 2n₁n₂/(n₁+n₂) + 1.
    */
  private val runsTest: QueryDef = {
    val mu = "(2.0 * n1 * n2 / (n1 + n2) + 1.0)"
    val sg = "sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / " +
      "((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))"
    QueryDef(
      "q_runs_test",
      (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(spark, sfDir)
          .select(to_date(col("ts")).as("day"),
            Ql.r(col("value") * 100, 0).cast("long").as("c"))
          .groupBy("day").agg(sum("c").as("c"))
          .checkpointed // cutoff scan + sign scan
        val cut = daily
          .withColumn("rn", row_number().over(Window.orderBy("c", "day")))
          .crossJoin(broadcast(daily.agg(count(lit(1)).as("nd"))))
          .filter(col("rn") === expr("(nd + 1) div 2"))
          .select(col("c").as("cut"))
        val signs = daily.crossJoin(broadcast(cut))
          .filter(col("c") =!= col("cut"))
          .select(col("day"), (col("c") > col("cut")).cast("int").as("sign"))
        val wd = Window.orderBy("day") // calendar-bounded daily frame
        signs
          .withColumn("prev", lag(col("sign"), 1).over(wd))
          .agg(sum(col("sign")).as("n1"),
            sum(lit(1) - col("sign")).as("n2"),
            sum(when(col("prev").isNull || col("prev") =!= col("sign"), 1L)
              .otherwise(0L)).as("n_runs"))
          .selectExpr("n1 AS n_above", "n2 AS n_below", "n_runs",
            s"${Ql.R(s"(n_runs - $mu) / $sg", 4)} AS z_score")
      },
      Some(s"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(${Ql.R("value * 100", 0)} AS BIGINT)) AS BIGINT) AS c
          FROM events GROUP BY 1),
        cut AS (
          SELECT c AS cut FROM (
            SELECT c, row_number() OVER (ORDER BY c, day) AS rn FROM daily)
          WHERE rn = ((SELECT count(*) FROM daily) + 1) // 2),
        signs AS (
          SELECT day, CAST(c > cut AS INT) AS sign
          FROM daily, cut WHERE c <> cut),
        lagged AS (
          SELECT sign, lag(sign) OVER (ORDER BY day) AS prev FROM signs),
        s AS (
          SELECT CAST(sum(sign) AS BIGINT) AS n1,
                 CAST(sum(1 - sign) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN prev IS NULL OR prev <> sign THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
          FROM lagged)
        SELECT n1 AS n_above, n2 AS n_below, n_runs,
               ${Ql.R(s"(n_runs - $mu) / $sg", 4)} AS z_score
        FROM s
      """))
  }

  // ---------------------------------------------------------------- McNemar

  /** McNemar's test on paired binary outcomes per user — did clicking
    * and purchasing disagree more in one direction than chance allows?
    * The pair (ever-clicked, ever-purchased) is computed per user in one
    * keyed aggregation; the test consumes only the discordant cells
    * b (click ∧ ¬purchase) and c (¬click ∧ purchase) through the
    * continuity-corrected χ² = (|b−c|−1)²/(b+c). All-integer corpus
    * work; one row out.
    */
  private val mcnemar = QueryDef(
    "q_mcnemar",
    (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "click", 1).otherwise(0)).as("clk"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("pur"))
        .agg(
          sum(expr("clk * pur")).as("n_both"),
          sum(expr("clk * (1 - pur)")).as("b"),
          sum(expr("(1 - clk) * pur")).as("c"),
          sum(expr("(1 - clk) * (1 - pur)")).as("n_neither"))
        .selectExpr("n_both", "b AS n_click_only", "c AS n_purchase_only",
          "n_neither",
          s"${Ql.R("CASE WHEN b + c > 0 THEN (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c) ELSE 0.0 END", 4)} AS chi2_cc"),
    Some(s"""
      WITH pu AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clk,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pur
        FROM events GROUP BY 1),
      s AS (
        SELECT CAST(sum(clk * pur) AS BIGINT) AS n_both,
               CAST(sum(clk * (1 - pur)) AS BIGINT) AS b,
               CAST(sum((1 - clk) * pur) AS BIGINT) AS c,
               CAST(sum((1 - clk) * (1 - pur)) AS BIGINT) AS n_neither
        FROM pu)
      SELECT n_both, b AS n_click_only, c AS n_purchase_only, n_neither,
             ${Ql.R("CASE WHEN b + c > 0 THEN (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c) ELSE 0.0 END", 4)} AS chi2_cc
      FROM s
    """))

  // ---------------------------------------------------------------- effect sizes

  /** Effect-size panel between return-flag populations on price cents:
    * Cohen's d (pooled SD), Hedges' g (small-sample correction
    * 1 − 3/(4N−9)), and Glass's Δ (control-group SD alone — the right
    * denominator when the treatment changes variance). Corpus work is
    * ONE 3-group moment aggregation; the pairwise panel is a 3-row grid
    * self-join. Significance belongs to q_welch_ttest; this reports the
    * magnitudes reviewers actually compare across studies.
    */
  private val cohensD: QueryDef = {
    // Moments stay exact integers end-to-end: the squared-cent sum is
    // accumulated WIDE (Spark DECIMAL(38,0), DuckDB HUGEINT) — per-group
    // Σy² passes 6e18 already at bench scale, so a BIGINT accumulator
    // would hit ANSI overflow at ~2× the data. Mean and variance are
    // then PRE-ROUNDED (4 dp — relative error ≤1e-10 at cent scale, far
    // below the output precision) before entering the effect-size
    // formulas, so both engines derive d/g/Δ from identical quantized
    // doubles rather than values an ulp apart near a rounding boundary
    // (the q_welch_ttest exact-moments discipline, hardened one step).
    def m(i: Int) = Ql.R(s"(CAST(s$i AS DOUBLE) / n$i)", 4)
    def v(i: Int) = Ql.R(s"((CAST(ss$i AS DOUBLE) - CAST(s$i AS DOUBLE) * s$i / n$i) / (n$i - 1))", 4)
    val pooled = s"(((n1 - 1) * ${v(1)} + (n2 - 1) * ${v(2)}) / (n1 + n2 - 2))"
    val d = s"((${m(1)} - ${m(2)}) / sqrt($pooled))"
    val g = s"($d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)))"
    val glass = s"((${m(1)} - ${m(2)}) / sqrt(${v(2)}))"
    QueryDef(
      "q_cohens_d",
      (spark, sfDir) => {
        val grp = Tables.lineitem(spark, sfDir)
          .select(col("l_returnflag").as("flag"),
            Ql.r(col("l_extendedprice") * 100, 0).cast("long").as("y"))
          .groupBy("flag")
          .agg(count(lit(1)).as("n"), sum("y").as("s"),
            sum(col("y").cast("decimal(18,0)") * col("y")).as("ss"))
          .checkpointed // tiny; both sides of the pair grid
        grp.select(col("flag").as("flag1"), col("n").as("n1"),
            col("s").as("s1"), col("ss").as("ss1"))
          .join(grp.select(col("flag").as("flag2"), col("n").as("n2"),
            col("s").as("s2"), col("ss").as("ss2")),
            col("flag1") < col("flag2"))
          .selectExpr("flag1", "flag2", "n1", "n2",
            s"${Ql.R(d, 4)} AS cohens_d",
            s"${Ql.R(g, 4)} AS hedges_g",
            s"${Ql.R(glass, 4)} AS glass_delta")
          .orderBy("flag1", "flag2")
      },
      Some(s"""
        WITH grp AS (
          SELECT l_returnflag AS flag, count(*) AS n,
                 CAST(sum(y) AS BIGINT) AS s, sum(y * y) AS ss
          FROM (SELECT l_returnflag,
                       CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT) AS y
                FROM lineitem)
          GROUP BY 1)
        SELECT flag1, flag2, n1, n2,
               ${Ql.R(d, 4)} AS cohens_d,
               ${Ql.R(g, 4)} AS hedges_g,
               ${Ql.R(glass, 4)} AS glass_delta
        FROM (
          SELECT a.flag AS flag1, b.flag AS flag2,
                 a.n AS n1, a.s AS s1, a.ss AS ss1,
                 b.n AS n2, b.s AS s2, b.ss AS ss2
          FROM grp a JOIN grp b ON a.flag < b.flag)
        ORDER BY flag1, flag2
      """))
  }

  // ---------------------------------------------------------------- entropy rate

  /** Entropy rate of the per-user event-type Markov chain — bits of
    * genuine surprise per step once the previous event is known, the
    * sequence-predictability number behind session modeling:
    * H = −Σ_ij (n_ij/N)·log₂(n_ij/n_i·) with empirical start weights.
    * Corpus work = the same lag pass q_markov_transitions runs; the
    * entropy folds the 25-cell transition table and its row totals in
    * one aggregation — no window, no broadcast. Reports the rate, the
    * uniform ceiling log₂(k), and their ratio (predictability).
    */
  private val entropyRate = QueryDef(
    "q_entropy_rate",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val rowTot = pairs.groupBy("from_type").agg(sum("n").as("nf"))
      pairs.join(rowTot, "from_type")
        .agg(sum("n").as("nt"),
          countDistinct("from_type").as("k"),
          sum(expr("n * log2(CAST(n AS DOUBLE) / nf)")).as("num"))
        .selectExpr("nt AS n_transitions", "k AS n_states",
          s"${Ql.R("-num / nt", 4)} AS entropy_rate_bits",
          s"${Ql.R("log2(CAST(k AS DOUBLE))", 4)} AS uniform_bits",
          s"${Ql.R("(-num / nt) / log2(CAST(k AS DOUBLE))", 4)} AS efficiency")
    },
    Some(s"""
      WITH pairs AS (
        SELECT from_type, event_type AS to_type, count(*) AS n
        FROM (SELECT event_type,
                     lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS from_type
              FROM events)
        WHERE from_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS nf FROM pairs GROUP BY 1),
      s AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               count(DISTINCT p.from_type) AS k,
               sum(n * log2(CAST(n AS DOUBLE) / nf)) AS num
        FROM pairs p JOIN tot t ON p.from_type = t.from_type)
      SELECT nt AS n_transitions, k AS n_states,
             ${Ql.R("-num / nt", 4)} AS entropy_rate_bits,
             ${Ql.R("log2(CAST(k AS DOUBLE))", 4)} AS uniform_bits,
             ${Ql.R("(-num / nt) / log2(CAST(k AS DOUBLE))", 4)} AS efficiency
      FROM s
    """))

  override def defs: Seq[QueryDef] =
    Seq(logisticIrls, overdispersion, varCvar, naiveBayes, boostedStumps,
      sequentialAb, pairwiseMeans, trimmedMean, changepointBinseg,
      ipsPolicyValue, designEffect, ratioMetricCi,
      theilSen, runsTest, mcnemar, cohensD, entropyRate, dataScalingCurve,
      benjaminiHochberg, conformalInterval, matchingAtt)
}
