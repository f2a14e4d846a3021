package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Retrieval-serving operators — the ranking layer above the corpus
  * (BM25 feeds these; the ANN stack is their vector sibling). Scale
  * discipline: candidate generation is the only corpus-sized work; every
  * re-ranking loop runs on a checkpointed report-sized frame (top-k
  * candidates), so iteration count multiplies trivial jobs, not corpus
  * passes.
  */
object RetrievalQueries extends QueryModule {

  // ---------------------------------------------------------------- MMR

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998,
    * public) of the BM25 top-20: greedily pick 5 results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked (λ=0.7) — the
    * standard diversity pass between retrieval and display. Candidates
    * come from the SHARED [[TextQueries.bm25TopK]] pipeline (one
    * definition with q_bm25_topk, Spark and oracle both); similarities
    * are embedding dot products (L2-normalized ⇒ cosine) over the
    * 20-candidate frame — a ≤20×19 pair table, bounded by the report,
    * never the corpus. Each greedy round is one aggregation over that
    * checkpointed pair frame. Scores: bm25 4 dp, sims 6 dp, the MMR
    * combination re-rounded at 6 dp with doc-id tiebreak — IEEE-exact
    * arithmetic on identically rounded inputs in both engines.
    */
  private val mmrRerank = QueryDef(
    "q_mmr_rerank",
    (spark, sfDir) => {
      val cand = TextQueries
        .bm25TopK(Tables.documents(spark, sfDir), Seq("stream", "join", "window"))
        .checkpointed // 20 rows
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id"), Vectors.toDouble(col("embedding")).as("v"))
      val ce = emb.join(broadcast(cand.select("doc_id", "score")), "doc_id")
        .checkpointed // 20 rows with vectors
      val a = ce.selectExpr("doc_id AS i", "score AS si", "v AS vi")
      val b = ce.selectExpr("doc_id AS j", "v AS vj")
      val pair = a.join(broadcast(b), col("i") =!= col("j"))
        .select(col("i"), col("si"), col("j"),
          Ql.r(Vectors.dot(col("vi"), col("vj")), 6).as("sim"))
        .checkpointed // <=20*19 rows
      val s1 = ce.selectExpr("doc_id", "score AS rel")
        .orderBy(col("rel").desc, col("doc_id")).limit(1)
        .selectExpr("doc_id", "1 AS rank", "rel",
          s"${Ql.R("0.7 * rel", 6)} AS mmr")
      def next(sel: DataFrame, r: Int): DataFrame = {
        val picked = pair
          .join(sel.select(col("doc_id").as("j")), "j")
          .groupBy("i", "si").agg(max("sim").as("ms"))
          .join(sel.select(col("doc_id").as("i")), Seq("i"), "left_anti")
          .selectExpr("i AS doc_id", s"$r AS rank", "si AS rel",
            s"${Ql.R("0.7 * si - 0.3 * ms", 6)} AS mmr")
          .orderBy(col("mmr").desc, col("doc_id")).limit(1)
        sel.unionByName(picked)
      }
      (2 to 5).foldLeft(s1)(next).orderBy("rank")
    },
    Some(s"""
      WITH ${TextQueries.bm25OracleCtes},
      cand AS (${TextQueries.bm25OracleSelect}),
      emb AS (SELECT vec_id AS doc_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
      ce AS (SELECT c.doc_id, c.score AS si, v
             FROM cand c JOIN emb USING (doc_id)),
      pair AS (
        SELECT a.doc_id AS i, a.si, b.doc_id AS j,
               ${Ql.R("list_dot_product(a.v, b.v)", 6)} AS sim
        FROM ce a JOIN ce b ON a.doc_id <> b.doc_id),
      s1 AS (SELECT doc_id, 1 AS rank, si AS rel, ${Ql.R("0.7 * si", 6)} AS mmr
             FROM ce ORDER BY si DESC, doc_id LIMIT 1),
      p2 AS (SELECT i, si, max(sim) AS ms FROM pair
             WHERE j IN (SELECT doc_id FROM s1)
               AND i NOT IN (SELECT doc_id FROM s1) GROUP BY 1, 2),
      s2 AS (SELECT i AS doc_id, 2 AS rank, si AS rel,
                    ${Ql.R("0.7 * si - 0.3 * ms", 6)} AS mmr
             FROM p2 ORDER BY mmr DESC, i LIMIT 1),
      u2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
      p3 AS (SELECT i, si, max(sim) AS ms FROM pair
             WHERE j IN (SELECT doc_id FROM u2)
               AND i NOT IN (SELECT doc_id FROM u2) GROUP BY 1, 2),
      s3 AS (SELECT i AS doc_id, 3 AS rank, si AS rel,
                    ${Ql.R("0.7 * si - 0.3 * ms", 6)} AS mmr
             FROM p3 ORDER BY mmr DESC, i LIMIT 1),
      u3 AS (SELECT * FROM u2 UNION ALL SELECT * FROM s3),
      p4 AS (SELECT i, si, max(sim) AS ms FROM pair
             WHERE j IN (SELECT doc_id FROM u3)
               AND i NOT IN (SELECT doc_id FROM u3) GROUP BY 1, 2),
      s4 AS (SELECT i AS doc_id, 4 AS rank, si AS rel,
                    ${Ql.R("0.7 * si - 0.3 * ms", 6)} AS mmr
             FROM p4 ORDER BY mmr DESC, i LIMIT 1),
      u4 AS (SELECT * FROM u3 UNION ALL SELECT * FROM s4),
      p5 AS (SELECT i, si, max(sim) AS ms FROM pair
             WHERE j IN (SELECT doc_id FROM u4)
               AND i NOT IN (SELECT doc_id FROM u4) GROUP BY 1, 2),
      s5 AS (SELECT i AS doc_id, 5 AS rank, si AS rel,
                    ${Ql.R("0.7 * si - 0.3 * ms", 6)} AS mmr
             FROM p5 ORDER BY mmr DESC, i LIMIT 1),
      u5 AS (SELECT * FROM u4 UNION ALL SELECT * FROM s5)
      SELECT doc_id, rank, rel, mmr FROM u5 ORDER BY rank
    """))

  // ---------------------------------------------------------------- autocomplete

  /** Prefix-autocomplete index build: for every 3-char word prefix with
    * enough support, the top-3 completions by corpus frequency — the
    * relation a typeahead service serves. One corpus token count
    * collapses onto the vocabulary; the rank window partitions by
    * prefix over vocabulary-bounded rows. Counts exact; ties broken
    * alphabetically.
    */
  private val autocompletePrefix = QueryDef(
    "q_autocomplete_prefix",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val words = Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 3)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 20)
        .withColumn("prefix", substring(col("w"), 1, 3))
      val rk = Window.partitionBy("prefix").orderBy(col("cnt").desc, col("w"))
      words.withColumn("rank", row_number().over(rk))
        .filter(col("rank") <= 3)
        .select(col("prefix"), col("rank"), col("w").as("word"), col("cnt"))
        .orderBy("prefix", "rank")
    },
    Some("""
      WITH words AS (
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 3
        GROUP BY 1 HAVING count(*) >= 20),
      ranked AS (
        SELECT substring(w, 1, 3) AS prefix,
               CAST(row_number() OVER (PARTITION BY substring(w, 1, 3)
                 ORDER BY cnt DESC, w) AS INT) AS rank,
               w AS word, cnt
        FROM words)
      SELECT prefix, rank, word, cnt
      FROM ranked WHERE rank <= 3
      ORDER BY prefix, rank
    """))

  // ---------------------------------------------------------------- vocab overlap

  /** Pairwise language vocabulary overlap — the Jaccard matrix that
    * says whether per-language routing (indexes, tokenizers, dedup
    * scopes) can share resources. Per-language distinct-token sets
    * collapse to vocabulary-bounded relations; the intersection is a
    * token equi-join over them; the lang-pair grid (|langs|² rows)
    * left-joins the intersection counts so disjoint pairs report 0.
    */
  private val langVocabOverlap = QueryDef(
    "q_lang_vocab_overlap",
    (spark, sfDir) => {
      val lv = Tables.documents(spark, sfDir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .distinct()
        .checkpointed // langs x vocab rows — feeds sizes, grid, inter
      val sizes = lv.groupBy("lang").agg(count(lit(1)).as("sz"))
      val inter = lv.as("a")
        .join(lv.as("b"), col("a.tok") === col("b.tok") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("inter"))
      sizes.as("sa").join(broadcast(sizes.as("sb")),
          col("sa.lang") < col("sb.lang"))
        .select(col("sa.lang").as("lang_a"), col("sa.sz").as("n_a"),
          col("sb.lang").as("lang_b"), col("sb.sz").as("n_b"))
        .join(inter, Seq("lang_a", "lang_b"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .selectExpr("lang_a", "lang_b", "n_a", "n_b", "inter",
          s"${Ql.R("CAST(inter AS DOUBLE) / (n_a + n_b - inter)", 4)} AS jaccard")
        .orderBy("lang_a", "lang_b")
    },
    Some(s"""
      WITH lv AS (
        SELECT DISTINCT lang, tok
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE len(tok) > 0),
      sizes AS (SELECT lang, count(*) AS sz FROM lv GROUP BY 1),
      inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS inter
        FROM lv a JOIN lv b ON a.tok = b.tok AND a.lang < b.lang
        GROUP BY 1, 2)
      SELECT sa.lang AS lang_a, sb.lang AS lang_b,
             sa.sz AS n_a, sb.sz AS n_b,
             CAST(COALESCE(inter, 0) AS BIGINT) AS inter,
             ${Ql.R("CAST(COALESCE(inter, 0) AS DOUBLE) / (sa.sz + sb.sz - COALESCE(inter, 0))", 4)} AS jaccard
      FROM sizes sa JOIN sizes sb ON sa.lang < sb.lang
      LEFT JOIN inter ON inter.lang_a = sa.lang AND inter.lang_b = sb.lang
      ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------- query likelihood

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * 2001) over the same three-term query q_bm25_topk serves — the
    * language-modeling scorer a retrieval stack A/B-tests against BM25:
    * score(d) = Σ_q ln((tf + μ·ctf_q/|C|) / (dl + μ)), μ = 100. The
    * collection model is two broadcast-sized aggregates (3-row ctf table,
    * 1-row token total); candidates are docs matching ≥1 term, and each
    * candidate scores ALL query terms (zero-tf terms contribute the
    * smoothed floor) via a 3-term literal explode joined left to the tf
    * table — never a corpus × terms grid.
    */
  /** The Dirichlet-QL top-20 scorer over an arbitrary documents frame —
    * factored so q_rank_overlap can lay its ranking next to BM25's
    * (ONE definition of the pipeline). Returns (doc_id, n_hit_terms,
    * dl, score) top-20 by (score DESC, doc_id). NOTE: eagerly
    * checkpoints its hit list, into the caller's materialization scope.
    */
  private[operators] def qlTopK(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val termArr = s"array(${terms.map(t => s"'$t'").mkString(", ")})"
    val ts = "ln((tf + 100.0 * ctf / ctot) / (dl + 100.0))"
    val tok = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("w"))
    val coll = tok.agg(count(lit(1)).cast("double").as("ctot"))
    val hits = tok.filter(expr(s"array_contains($termArr, w)"))
      .checkpointed // feeds ctf, tf, and the candidate list
    val ctf = hits.groupBy("w").agg(count(lit(1)).cast("double").as("ctf"))
    // LEFT join + coalesce: a query term with zero collection
    // frequency keeps its smoothed floor for every candidate rather
    // than silently dropping out (same choice as the oracle twin).
    val tf = hits.groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    tf.select("doc_id", "dl").distinct()
      .select(col("doc_id"), col("dl"), explode(expr(termArr)).as("w"))
      .join(tf, Seq("doc_id", "dl", "w"), "left")
      .na.fill(0L, Seq("tf"))
      .join(broadcast(ctf), Seq("w"), "left")
      .na.fill(0.0, Seq("ctf"))
      .crossJoin(broadcast(coll))
      .withColumn("ts", Ql.r(expr(ts), 6))
      .groupBy("doc_id")
      .agg(sum(when(col("tf") > 0, 1L).otherwise(0L)).as("n_hit_terms"),
        min("dl").as("dl"), Ql.r(sum(col("ts")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .select("doc_id", "n_hit_terms", "dl", "score")
  }

  /** Oracle twin of [[qlTopK]] as a prefix-parameterized CTE chain ending
    * in `${px}top(doc_id, n_hit_terms, dl, score)` — prefixed so it can
    * coexist with the BM25 oracle CTEs in q_rank_overlap's WITH.
    */
  private def qlOracleCtes(px: String, terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val ts = "ln((tf + 100.0 * ctf / ctot) / (dl + 100.0))"
    s"""${px}tok AS (
          SELECT doc_id, len(string_split(text, ' ')) AS dl,
                 unnest(string_split(text, ' ')) AS w
          FROM documents),
        ${px}coll AS (SELECT CAST(count(*) AS DOUBLE) AS ctot FROM ${px}tok),
        ${px}ctf AS (SELECT w, CAST(count(*) AS DOUBLE) AS ctf
                FROM ${px}tok WHERE w IN ($inList) GROUP BY 1),
        ${px}tf AS (SELECT doc_id, dl, w, count(*) AS tf
               FROM ${px}tok WHERE w IN ($inList) GROUP BY 1, 2, 3),
        ${px}grid AS (
          SELECT cd.doc_id, cd.dl, t.w
          FROM (SELECT DISTINCT doc_id, dl FROM ${px}tf) cd,
               (SELECT unnest([$inList]) AS w) t),
        ${px}sc AS (
          SELECT g.doc_id, g.dl, COALESCE(tf.tf, 0) AS tf,
                 COALESCE(c.ctf, 0.0) AS ctf, ctot
          FROM ${px}grid g
          LEFT JOIN ${px}tf tf ON g.doc_id = tf.doc_id AND g.w = tf.w
          LEFT JOIN ${px}ctf c ON g.w = c.w, ${px}coll),
        ${px}scored AS (
          SELECT doc_id, dl, tf, ${Ql.R(ts, 6)} AS ts FROM ${px}sc),
        ${px}top AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_terms,
                 CAST(min(dl) AS INT) AS dl,
                 ${Ql.R("sum(ts)", 4)} AS score
          FROM ${px}scored GROUP BY 1
          ORDER BY score DESC, doc_id LIMIT 20)"""
  }

  private val queryLikelihood: QueryDef = {
    val terms = Seq("stream", "join", "window")
    QueryDef(
      "q_query_likelihood",
      (spark, sfDir) => scope {
        // the scope releases the eager checkpoint's blocks once the result
        // is checkpointed (module contract: no blocks outlive the query)
        qlTopK(Tables.documents(spark, sfDir), terms).checkpointed
      },
      Some(s"""
        WITH ${qlOracleCtes("", terms)}
        SELECT doc_id, n_hit_terms, dl, score FROM top
        ORDER BY score DESC, doc_id
      """))
  }

  /** Rank-Biased Overlap between the two served rankers (Webber, Moffat
    * & Zobel 2010, public): how much do BM25's and query-likelihood's
    * top-20 lists for the same query actually agree, weighted the way a
    * user reads — geometrically decaying depth weights (p = 0.9), so
    * rank-1 disagreement costs more than rank-20. Reports per-depth
    * overlap X_d and agreement X_d/d plus the truncated RBO score
    * Σ (1−p)p^(d−1)·X_d/d — the ranker-diff metric a retrieval stack
    * watches when it swaps scorers. Both rankings come from the SAME
    * served pipelines ([[TextQueries.bm25TopK]] / [[qlTopK]]); all
    * depth work runs on the two 20-row lists (rank windows whitelisted
    * as bounded), the depth weights are Scala-precomputed
    * exponent-notation literals, and per-depth terms accumulate as
    * exact nano-unit BIGINTs.
    */
  private val rankOverlap: QueryDef = {
    val terms = Seq("stream", "join", "window")
    val k = 20
    val coefs = (1 to k).map(d =>
      d -> "%.17e".formatLocal(java.util.Locale.ROOT, 0.1 * math.pow(0.9, d - 1)))
    val coefCase = "CASE " + coefs.map { case (d, c) =>
      s"WHEN d = $d THEN $c"
    }.mkString(" ") + " END"
    QueryDef(
      "q_rank_overlap",
      (spark, sfDir) => scope {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(spark, sfDir)
        def ranked(df: DataFrame, rc: String) = df
          .withColumn(rc, row_number()
            .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col(rc))
        val a = ranked(TextQueries.bm25TopK(docs, terms), "ra")
        val b = ranked(qlTopK(docs, terms), "rb")
        val common = a.join(b, "doc_id")
          .select(col("doc_id"), greatest(col("ra"), col("rb")).as("dmin"))
          .checkpointed // ≤20 rows
        val depths = spark.range(1, k + 1).select(col("id").as("d"))
        val ov = depths
          .join(broadcast(common), col("dmin") <= col("d"), "left")
          .groupBy("d").agg(count(col("doc_id")).as("overlap"))
        val out = ov
          .withColumn("agreement", Ql.r(col("overlap") / col("d").cast("double"), 4))
          .withColumn("term_u", expr(
            s"CAST(${Ql.R(s"($coefCase) * overlap / d * 1000000000", 0)} AS BIGINT)"))
        val rbo = out.agg(
          Ql.r(sum("term_u") / lit(1e9), 6).as("rbo"))
        val res = out.crossJoin(broadcast(rbo))
          .select(col("d"), col("overlap"), col("agreement"), col("rbo"))
          .orderBy("d")
        res.checkpointed
      },
      Some(s"""
        WITH ${TextQueries.bm25OracleCtes},
        atop AS (${TextQueries.bm25OracleSelect}),
        ${qlOracleCtes("q", terms)},
        ra AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS ra
          FROM atop),
        rb AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rb
          FROM qtop),
        common AS MATERIALIZED (
          SELECT ra.doc_id, greatest(ra.ra, rb.rb) AS dmin
          FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
        depths AS (SELECT CAST(unnest(generate_series(1, $k)) AS BIGINT) AS d),
        ov AS MATERIALIZED (
          SELECT d, CAST(count(c.doc_id) AS BIGINT) AS overlap
          FROM depths LEFT JOIN common c ON c.dmin <= depths.d
          GROUP BY 1),
        terms_t AS MATERIALIZED (
          SELECT d, overlap,
                 ${Ql.R("overlap / CAST(d AS DOUBLE)", 4)} AS agreement,
                 CAST(${Ql.R(s"($coefCase) * overlap / d * 1000000000", 0)} AS BIGINT)
                   AS term_u
          FROM ov),
        rbo AS (
          SELECT ${Ql.R("CAST(sum(term_u) AS DOUBLE) / 1e9", 6)} AS rbo
          FROM terms_t)
        SELECT d, overlap, agreement, rbo
        FROM terms_t CROSS JOIN rbo
        ORDER BY d
      """))
  }

  override def defs: Seq[QueryDef] =
    Seq(mmrRerank, autocompletePrefix, langVocabOverlap, queryLikelihood,
      rankOverlap)
}
