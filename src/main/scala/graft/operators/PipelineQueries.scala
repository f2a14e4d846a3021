package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Training-data pipeline assembly operators (SURVEY §2.I extension):
  * sequence packing into token-budget shards, context-window chunking,
  * train/test contamination detection, and deterministic per-group
  * reservoir sampling. These sit downstream of dedup/quality filtering
  * (DedupQueries, TextQueries) and upstream of the trainer: the steps
  * that turn a cleaned corpus into fixed-size, leak-checked shards.
  *
  * Scale notes (the shapes that survive 100 TB):
  *  - packing is per-`source` streams: the cumulative-sum window
  *    partitions by source, so parallelism = number of ingest streams
  *    (thousands at scale), never a global single-partition sort;
  *  - chunking is purely per-row (explode of an arithmetic sequence);
  *  - contamination is the same inverted-index join algebra as
  *    q_dedup_ngram_jaccard — test shingles hash-join the distinct train
  *    shingle set on 56-bit int64 keys, never doc×doc pairs;
  *  - reservoir sampling is rank-per-group, which Spark executes with
  *    WindowGroupLimit (per-group top-k heap, no full sort).
  */
object PipelineQueries extends QueryModule {

  /** I-pack: fixed-boundary sequence packing. Documents are laid out in
    * deterministic (source, doc_id) order and cut into shards at every
    * 2048-token boundary: shard = floor(tokens_before / 2048). A document
    * straddling a boundary belongs to the shard its first token falls in
    * (fixed-boundary packing — each shard reads a contiguous token range,
    * so shard assignment is a pure prefix-sum, distributable as
    * per-partition sums + broadcast offsets; greedy no-overflow packing
    * would need a sequential scan).
    */
  private val packSequences = QueryDef(
    "q_pack_sequences",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(spark, sfDir)
        .withColumn("tok", size(split(col("text"), " ")))
        .withColumn("cum_before", sum(col("tok")).over(w) - col("tok"))
        .withColumn("shard", expr("cum_before div 2048"))
        .groupBy("source", "shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tok")).as("tok_total"),
          Ql.r(sum(col("tok")) / 2048.0, 4).as("fill"),
          min(col("doc_id")).as("doc_lo"),
          max(col("doc_id")).as("doc_hi"))
        .orderBy("source", "shard")
    },
    Some(s"""
      WITH laid AS (
        SELECT source, doc_id, tok,
               CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) - tok
                 AS cum_before
        FROM (SELECT source, doc_id,
                     len(string_split(text, ' ')) AS tok
              FROM documents))
      SELECT source, cum_before // 2048 AS shard,
             count(*) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS tok_total,
             ${Ql.R("sum(tok) / 2048.0", 4)} AS fill,
             min(doc_id) AS doc_lo, max(doc_id) AS doc_hi
      FROM laid GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** I-chunk: context-window chunking — 64-token windows, stride 48
    * (16-token overlap), the embedding-pipeline preprocessing step.
    * chunk count = max(1, ceil((tok - 16) / 48)); chunk i covers tokens
    * [48i+1, 48i+64]. Purely per-row arithmetic + explode; chunk identity
    * is the 56-bit md5 prefix of the chunk text, so cross-chunk dedup
    * (n_uniq_chunks) is exact and engine-independent.
    */
  private val docChunks = QueryDef(
    "q_doc_chunks",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("tok", size(col("toks")))
        .withColumn("n_chunks", expr(
          "greatest(1, CAST(ceil((tok - 16) / 48.0) AS INT))"))
        .select(col("lang"), col("toks"), col("tok"),
          explode(expr("sequence(0, n_chunks - 1)")).as("i"))
        .withColumn("clen", expr("least(64, tok - 48 * i)"))
        .withColumn("chash", expr(
          Ql.md5PrefixLong("concat_ws(' ', slice(toks, 48 * i + 1, clen))", 14)))
        .groupBy("lang")
        .agg(
          countDistinct(col("chash")).as("n_uniq_chunks"),
          count(lit(1)).as("n_chunks"),
          Ql.r(avg(col("clen")), 4).as("avg_chunk_len"))
        .orderBy("lang"),
    Some(s"""
      WITH chunks AS (
        SELECT lang, i,
               least(64, tok - 48 * i) AS clen,
               ${Ql.Md5PrefixLong("array_to_string(t[48 * i + 1 : 48 * i + least(64, tok - 48 * i)], ' ')", 14)} AS chash
        FROM (SELECT lang, t, tok,
                     unnest(generate_series(0,
                       greatest(1, CAST(ceil((tok - 16) / 48.0) AS BIGINT)) - 1)) AS i
              FROM (SELECT lang, string_split(text, ' ') AS t,
                           len(string_split(text, ' ')) AS tok
                    FROM documents)))
      SELECT lang, count(DISTINCT chash) AS n_uniq_chunks,
             count(*) AS n_chunks,
             ${Ql.R("avg(clen)", 4)} AS avg_chunk_len
      FROM chunks GROUP BY 1 ORDER BY 1
    """))

  /** I-leak: train/test contamination check. The corpus splits 90/10 by
    * the same deterministic md5 bucket as q_train_split; a test document
    * is contaminated if it shares any 5-token shingle with ANY train
    * document. Same scale shape as n-gram dedup: hash-join the test
    * shingles against the distinct train shingle set on int64 keys —
    * the candidate set is per-shingle, never per-doc-pair.
    */
  /** The contamination measurement core over an ARBITRARY (doc_id, lang,
    * text) corpus — per TEST doc (deterministic md5 bucket ≥ 90), the
    * count of its distinct 5-grams that appear anywhere in the train
    * side: (doc_id, lang, n_hits), test-doc-count-sized and
    * materialized (the corpus-scale shingle truncation is released before
    * returning). Exposed so ScaleSmokeSpec can drive the SERVED
    * measurement at 5M docs; q_contamination is one keyed aggregate
    * over it.
    */
  /** The distinct 5-gram table every contamination query derives from —
    * ONE definition of the gram size, bucket rule, and 56-bit hash, so
    * the audit (lang-keyed), the scrub, and the source attribution all
    * measure the SAME surface (a gram-rule change cannot silently
    * de-synchronize them). `keyCol` is the metadata column carried along
    * (lang or source). Caller truncates and releases.
    */
  private[graft] def contamShingles(corpus: org.apache.spark.sql.DataFrame,
      keyCol: String): org.apache.spark.sql.DataFrame =
    Tables.scatter(corpus)
      .withColumn("b", expr(SamplingQueries.bucketExpr("doc_id")))
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), col(keyCol), col("b"),
        explode(expr(
          "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))"))
          .as("sh0"))
      // hash post-explode in a codegen'd projection, not in the
      // interpreted lambda (see DedupQueries.shingles)
      .select(col("doc_id"), col(keyCol), col("b"),
        expr(Ql.md5PrefixLong("sh0", 14)).as("sh"))
      .distinct()

  /** Oracle twin of [[contamShingles]] — the inner SELECT of a
    * `sh(doc_id, <keyCol>, b, sh)` CTE over `documents`.
    */
  private def contamShSql(keyCol: String): String =
    s"""SELECT DISTINCT doc_id, $keyCol, b,
               ${Ql.Md5PrefixLong("array_to_string(t[i + 1 : i + 5], ' ')", 14)} AS sh
        FROM (SELECT doc_id, $keyCol,
                     ${SamplingQueries.bucketSql("doc_id")} AS b,
                     t, unnest(generate_series(0, len(t) - 5)) AS i
              FROM (SELECT doc_id, $keyCol, string_split(text, ' ') AS t
                    FROM documents)
              WHERE len(t) >= 5)"""

  private[graft] def contamDocHits(corpus: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = scope {
    val docs = contamShingles(corpus, "lang")
      // both split sides derive from this one shingle set — truncate so the
      // explode+md5+distinct shuffle runs once, not once per consumer
      .truncated
    val trainSh = docs.filter(col("b") < 90).select("sh").distinct()
    val testSh = docs.filter(col("b") >= 90)
    val hits = testSh.join(trainSh, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    testSh.select("doc_id", "lang").distinct()
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      // test-doc-count-sized — materialized while the truncation is alive;
      // the scope releases the shingle blocks on return
      .checkpointed
  }

  private val contamination = QueryDef(
    "q_contamination",
    (spark, sfDir) =>
      contamDocHits(Tables.documents(spark, sfDir))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_test"),
          sum((col("n_hits") > 0).cast("long")).as("n_contaminated"),
          sum(col("n_hits")).as("n_hit_shingles"))
        .orderBy("lang"),
    Some(s"""
      WITH sh AS (${contamShSql("lang")}),
      train_sh AS (SELECT DISTINCT sh FROM sh WHERE b < 90),
      test_docs AS (SELECT DISTINCT doc_id, lang FROM sh WHERE b >= 90),
      hits AS (
        SELECT s.doc_id, count(*) AS n_hits
        FROM sh s JOIN train_sh t ON s.sh = t.sh
        WHERE s.b >= 90 GROUP BY 1)
      SELECT d.lang, count(*) AS n_test,
             CAST(sum(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
             CAST(sum(coalesce(h.n_hits, 0)) AS BIGINT) AS n_hit_shingles
      FROM test_docs d LEFT JOIN hits h ON d.doc_id = h.doc_id
      GROUP BY 1 ORDER BY 1
    """))

  /** The REMEDY q_contamination motivates (the audit→remedy discipline
    * of q_split_safe): scrub the TRAIN side against the held-out test
    * set — remove every train doc whose distinct-5-gram set is ≥50%
    * contained in the test shingle set (exact integer test
    * 2·hits ≥ n_sh; the GPT-3 appendix-C n-gram-collision practice at
    * document granularity, public) — then RE-MEASURE the audit against
    * the kept train set. Per lang: train size, scrub count/share, and
    * test-side contaminated-doc counts before vs after (a targeted
    * scrub lowers "after" but need not zero it: low-containment train
    * docs legitimately stay). One truncated shingle table feeds every
    * side; all joins are per-shingle hash joins, never doc×doc.
    */
  private val decontamScrub = QueryDef(
    "q_decontam_scrub",
    (spark, sfDir) => scope {
      val sh = contamShingles(Tables.documents(spark, sfDir), "lang").truncated
      val trainSh = sh.filter(col("b") < 90)
      val testSh = sh.filter(col("b") >= 90)
      val testSet = testSh.select("sh").distinct()
      val trainSize = trainSh.groupBy("doc_id", "lang").agg(count(lit(1)).as("n_sh"))
      val trainHits = trainSh.join(testSet, "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      val scrubbed = trainSize.join(trainHits, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_hits"))
        .withColumn("removed", expr("2 * n_hits >= n_sh"))
        .checkpointed // train-doc-sized decision table
      val keptSet = trainSh.join(
          scrubbed.filter(col("removed")).select("doc_id"), Seq("doc_id"), "left_anti")
        .select("sh").distinct()
      val trainSet = trainSh.select("sh").distinct()
      def contamOf(set: org.apache.spark.sql.DataFrame, name: String) =
        testSh.join(set, "sh").select("doc_id", "lang").distinct()
          .groupBy("lang").agg(count(lit(1)).as(name))
      val report = scrubbed.groupBy("lang").agg(
          count(lit(1)).as("n_train"),
          sum(col("removed").cast("long")).as("n_scrubbed"))
        .join(testSh.select("doc_id", "lang").distinct()
          .groupBy("lang").agg(count(lit(1)).as("n_test0")), Seq("lang"), "left")
        .join(contamOf(trainSet, "b0"), Seq("lang"), "left")
        .join(contamOf(keptSet, "a0"), Seq("lang"), "left")
        .selectExpr("lang", "n_train", "n_scrubbed",
          s"${Ql.R("100.0 * n_scrubbed / n_train", 4)} AS scrub_pct",
          "coalesce(n_test0, CAST(0 AS BIGINT)) AS n_test",
          "coalesce(b0, CAST(0 AS BIGINT)) AS n_contam_before",
          "coalesce(a0, CAST(0 AS BIGINT)) AS n_contam_after")
        // materialize the |langs|-row report while the shingle truncation is
        // alive; the scope then releases sh, so the module's largest
        // intermediate does not tax every later query in the session
        .checkpointed
      report.orderBy("lang")
    },
    Some(s"""
      WITH sh AS MATERIALIZED (${contamShSql("lang")}),
      train_sh AS MATERIALIZED (SELECT doc_id, lang, sh FROM sh WHERE b < 90),
      test_sh AS MATERIALIZED (SELECT doc_id, lang, sh FROM sh WHERE b >= 90),
      test_set AS (SELECT DISTINCT sh FROM test_sh),
      tsize AS (SELECT doc_id, lang, count(*) AS n_sh FROM train_sh GROUP BY 1, 2),
      thits AS (SELECT t.doc_id, count(*) AS n_hits
                FROM train_sh t JOIN test_set s ON t.sh = s.sh GROUP BY 1),
      scrubbed AS MATERIALIZED (
        SELECT z.doc_id, z.lang, z.n_sh, coalesce(h.n_hits, 0) AS n_hits,
               2 * coalesce(h.n_hits, 0) >= z.n_sh AS removed
        FROM tsize z LEFT JOIN thits h ON z.doc_id = h.doc_id),
      kept_set AS (
        SELECT DISTINCT t.sh FROM train_sh t
        ANTI JOIN (SELECT doc_id FROM scrubbed WHERE removed) r
          ON t.doc_id = r.doc_id),
      train_set AS (SELECT DISTINCT sh FROM train_sh),
      contam_before AS (
        SELECT lang, count(DISTINCT doc_id) AS b0
        FROM test_sh t SEMI JOIN train_set s ON t.sh = s.sh GROUP BY 1),
      contam_after AS (
        SELECT lang, count(DISTINCT doc_id) AS a0
        FROM test_sh t SEMI JOIN kept_set k ON t.sh = k.sh GROUP BY 1),
      tstats AS (
        SELECT lang, count(*) AS n_train,
               CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed
        FROM scrubbed GROUP BY 1),
      ntest AS (SELECT lang, count(DISTINCT doc_id) AS n_test0 FROM test_sh GROUP BY 1)
      SELECT t.lang, t.n_train, t.n_scrubbed,
             ${Ql.R("100.0 * t.n_scrubbed / t.n_train", 4)} AS scrub_pct,
             coalesce(n.n_test0, 0) AS n_test,
             coalesce(cb.b0, 0) AS n_contam_before,
             coalesce(ca.a0, 0) AS n_contam_after
      FROM tstats t
        LEFT JOIN ntest n ON n.lang = t.lang
        LEFT JOIN contam_before cb ON cb.lang = t.lang
        LEFT JOIN contam_after ca ON ca.lang = t.lang
      ORDER BY 1
    """))

  /** Decontamination SENSITIVITY sweep: the q_contamination measurement
    * re-run at n-gram sizes n ∈ {5, 8, 13} — the knob the published
    * practice actually varies (GPT-3's appendix C scrubs at 13-grams,
    * the Pile at 13, many dedup papers at 5): small n over-flags
    * (common phrases count as contamination), large n under-flags
    * (only long verbatim runs survive). One corpus-level row per n:
    * test docs, contaminated test docs (≥1 shared distinct n-gram with
    * the train split), contamination share, and total hit n-grams.
    * ONE corpus scan feeds all three arms (r15 verdict #4: the three
    * independent explode+distinct passes tripled the scan/tokenize
    * work): the explode fans each doc into its (n, gram) rows for every
    * n it is long enough for, the md5 runs post-explode in a codegen'd
    * projection, and every downstream join/aggregate is keyed by
    * (n, sh) — per-shingle hash joins, never doc×doc.
    */
  private val contamNgramSweep = QueryDef(
    "q_contam_ngram_sweep",
    (spark, sfDir) => scope {
      val ns = Seq(5, 8, 13)
      // two-level explode (r17 session 2): explode the n grid first, then
      // the per-n gram transform — same (doc_id, b, n, sh) set as the old
      // single flatten-of-struct-arrays explode, but without building a
      // struct per gram inside a doubly-nested interpreted lambda (the
      // named_struct allocation per gram and the flatten copy go away;
      // the md5 stays a post-explode codegen'd projection)
      val sh = Tables.scatter(Tables.documents(spark, sfDir))
        .withColumn("b", expr(SamplingQueries.bucketExpr("doc_id")))
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= ns.min)
        .select(col("doc_id"), col("b"), col("toks"),
          explode(array(ns.map(lit): _*)).as("n"))
        .filter(size(col("toks")) >= col("n"))
        .select(col("doc_id"), col("b"), col("n"), explode(expr(
          "transform(sequence(0, size(toks) - n), i -> concat_ws(' ', slice(toks, i + 1, n)))"))
          .as("sh0"))
        .select(col("doc_id"), col("b"), col("n"),
          expr(Ql.md5PrefixLong("sh0", 14)).as("sh"))
        .distinct()
        .truncated
      val trainSh = sh.filter(col("b") < 90).select("n", "sh").distinct()
      val testSh = sh.filter(col("b") >= 90)
      val hits = testSh.join(trainSh, Seq("n", "sh"))
        .groupBy("n", "doc_id").agg(count(lit(1)).as("n_hits"))
      // anchor on the literal n grid: the oracle's per-arm scalar
      // subqueries emit a row for every n unconditionally, so an n with
      // zero qualifying test docs must still report (r16 review finding)
      val nGrid = spark.range(1)
        .select(explode(array(ns.map(n => lit(n)): _*)).as("n"))
      nGrid
        .join(testSh.groupBy("n").agg(countDistinct(col("doc_id")).as("n_test")),
          Seq("n"), "left")
        .join(hits.groupBy("n").agg(count(lit(1)).as("n_contaminated"),
          sum(col("n_hits")).as("n_hit_shingles")), Seq("n"), "left")
        .na.fill(0L, Seq("n_test", "n_contaminated", "n_hit_shingles"))
        .checkpointed // 3-row report; the shingle truncation releases below
        .selectExpr("n", "n_test", "n_contaminated",
          s"${Ql.R("100.0 * n_contaminated / greatest(n_test, 1)", 4)} AS contam_pct",
          "n_hit_shingles")
        .orderBy("n")
    },
    Some {
      def armSql(n: Int) = s"""
        SELECT $n AS n,
               (SELECT count(DISTINCT doc_id) FROM sh$n WHERE b >= 90) AS n_test,
               (SELECT count(*) FROM hits$n) AS n_contaminated,
               (SELECT CAST(coalesce(sum(n_hits), 0) AS BIGINT) FROM hits$n) AS n_hit_shingles"""
      def ctesSql(n: Int) = s"""sh$n AS (
          SELECT DISTINCT doc_id, b,
                 ${Ql.Md5PrefixLong(s"array_to_string(t[i + 1 : i + $n], ' ')", 14)} AS sh
          FROM (SELECT doc_id, ${SamplingQueries.bucketSql("doc_id")} AS b,
                       t, unnest(generate_series(0, len(t) - $n)) AS i
                FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
                WHERE len(t) >= $n)),
        train$n AS (SELECT DISTINCT sh FROM sh$n WHERE b < 90),
        hits$n AS (
          SELECT s.doc_id, count(*) AS n_hits
          FROM sh$n s JOIN train$n t ON s.sh = t.sh
          WHERE s.b >= 90 GROUP BY 1)"""
      s"""
        WITH ${Seq(5, 8, 13).map(ctesSql).mkString(",\n")}
        SELECT n, n_test, n_contaminated,
               ${Ql.R("100.0 * n_contaminated / greatest(n_test, 1)", 4)} AS contam_pct,
               n_hit_shingles
        FROM (${Seq(5, 8, 13).map(armSql).mkString(" UNION ALL ")})
        ORDER BY n
      """
    })

  /** I-sample: deterministic per-group reservoir — k=5 docs per language,
    * ranked by md5(doc_id) so membership is a pure function of the key
    * (replay/repartition-stable, like all sampling here). Spark plans the
    * rank filter as WindowGroupLimit: a k-row heap per group, no full
    * per-group sort at scale.
    */
  private val sampleReservoir = QueryDef(
    "q_sample_reservoir",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(expr(Ql.md5PrefixLong("CAST(doc_id AS STRING)", 14)), col("doc_id"))
      val docs = Tables.documents(spark, sfDir)
      // per-lang sizes as a tiny aggregate joined back AFTER the rank
      // filter — a count(*) OVER (PARTITION BY lang) window would drag
      // the whole corpus through |langs| tasks (and sit between the rank
      // window and its filter, demoting InferWindowGroupLimit to a full
      // per-group sort)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      docs
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .join(broadcast(counts), "lang")
        .groupBy("lang")
        .agg(
          max(col("n_docs")).as("n_docs"),
          count(lit(1)).as("k"),
          expr("array_join(transform(array_sort(collect_list(struct(rn, doc_id))), x -> CAST(x.doc_id AS STRING)), ',')")
            .as("sample_ids"))
        .orderBy("lang")
    },
    Some(s"""
      WITH ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                 ORDER BY ${Ql.Md5PrefixLong("CAST(doc_id AS VARCHAR)", 14)}, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n_docs
        FROM documents)
      SELECT lang, CAST(max(n_docs) AS BIGINT) AS n_docs,
             count(*) AS k,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS sample_ids
      FROM ranked WHERE rn <= 5
      GROUP BY 1 ORDER BY 1
    """))

  /** The curation DECISION chain, factored so the batch query and the
    * streaming pipeline ([[graft.streaming.StreamingJobs.curationPipelineSink]])
    * share ONE definition of every stage — gate (tok ≥ 20) → exact dedup
    * (sha256 keep-first by doc_id) → weak-key near-dup removal
    * (lang + first-3-token prefix keep-first) → deterministic 80/10/10
    * hash split → fixed-boundary packing per (split, source). Returns the
    * per-doc keep-list with its decisions: (doc_id, lang, source, tok,
    * text_hash, prefix_key, split, shard). The streaming twin reproduces
    * the same keep-list incrementally (first-entrant-wins keep-first
    * state per text_hash and per (lang, prefix_key) in the state store +
    * carried pack offsets); ScaleSmokeSpec proves row-for-row equality
    * on doc_id-sliced replay.
    */
  def curationKeepList(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keepFirstHash = Window.partitionBy("text_hash").orderBy("doc_id")
    val keepFirstKey = Window.partitionBy("lang", "prefix_key").orderBy("doc_id")
    val packW = Window.partitionBy("split", "source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("tok", size(split(col("text"), " ")))
      .filter(col("tok") >= 20)
      .withColumn("text_hash", sha2(col("text").cast("binary"), 256))
      .withColumn("prefix_key", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .withColumn("rn_hash", row_number().over(keepFirstHash))
      .filter(col("rn_hash") === 1)
      .withColumn("rn_key", row_number().over(keepFirstKey))
      .filter(col("rn_key") === 1)
      .withColumn("bucket", expr(SamplingQueries.bucketExpr("doc_id")))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .withColumn("cum_before", sum(col("tok")).over(packW) - col("tok"))
      .withColumn("shard", expr("cum_before div 2048"))
      .select("doc_id", "lang", "source", "tok", "text_hash", "prefix_key",
        "split", "shard")
  }

  /** DuckDB twin of [[curationKeepList]] as a CTE chain ending in
    * `packed(doc_id, lang, source, tok, split, shard, …)` — shared by
    * q_curation_pipeline and q_shard_balance so the oracle stages cannot
    * drift between the queries that consume the same decision.
    */
  /** The gate → exact-dedup → weak-key oracle stage text over an
    * arbitrary source relation, CTE names prefixed — ONE definition
    * shared by the prefix, LSH, and safe chains' oracles (the
    * bandKeysSqlOver / ccSqlOver parameterization convention), so a
    * stage-text change cannot silently de-synchronize the chains. A
    * chain that replaces the weak-key stage simply never references
    * `${"$"}{pfx}keyed` (DuckDB does not evaluate unreferenced CTEs).
    */
  private def keepStagesSql(pfx: String, src: String) =
    s"""${pfx}filtered AS (
        SELECT doc_id, lang, source, text,
               len(string_split(text, ' ')) AS tok,
               sha256(text) AS text_hash,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS prefix_key
        FROM $src
        WHERE len(string_split(text, ' ')) >= 20),
      ${pfx}deduped AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn_hash
          FROM ${pfx}filtered) WHERE rn_hash = 1),
      ${pfx}keyed AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY lang, prefix_key ORDER BY doc_id) AS rn_key
          FROM ${pfx}deduped) WHERE rn_key = 1)"""

  /** The per-doc hash split + fixed-boundary pack oracle stages over an
    * arbitrary keyed CTE — ONE text for the 80/10/10 bucket rule (via
    * [[DedupQueries.splitCase]], the rule the split-audit family shares)
    * and the 2048-token shard formula, so a boundary change cannot
    * silently de-synchronize the four chains that ship it (the
    * keepStagesSql convention). End in `${"$"}{pfx}splitted` /
    * `${"$"}{pfx}packed(cols..., shard)`.
    */
  private def splitSql(pfx: String, src: String) =
    s"""${pfx}splitted AS (
        SELECT *, ${DedupQueries.splitCase("b")} AS split
        FROM (SELECT *, ${SamplingQueries.bucketSql("doc_id")} AS b
              FROM $src))"""

  private def packSql(pfx: String, src: String, cols: String) =
    s"""${pfx}packed AS (
        SELECT $cols,
               (CAST(sum(tok) OVER (PARTITION BY split, source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) - tok) // 2048
                 AS shard
        FROM $src)"""

  private val keepListSql =
    s"""${keepStagesSql("", "documents")},
      ${splitSql("", "keyed")},
      ${packSql("", "splitted", "doc_id, split, source, lang, tok")}"""

  /** The LSH-backed sibling of [[curationKeepList]]: gate → exact-hash
    * keep-first → MinHash-LSH bucket dedup → split → pack, with the
    * weak (lang, first-3-tokens) key stage replaced by the REAL banding
    * machinery q_dedup_minhash serves ([[DedupQueries.bandKeysOf]], 4
    * bands × 3 rows). The dedup rule is first-in-every-bucket: a doc is
    * dropped iff ANY of its 4 band buckets already holds an
    * earlier-doc_id stage entrant — deliberately the aggressive
    * bucket-greedy production knob (bucket collision ⇒ presumed
    * near-dup; no pair verification step), and deliberately defined
    * over stage ENTRANTS rather than survivors, because that is the
    * rule that decomposes exactly into a per-bucket first-entrant state
    * carried across batches — the decomposition the streaming twin
    * ([[graft.streaming.StreamingJobs.curationPipelineSink]] with
    * nearDup="lsh") is proven row-for-row against. The verified candidate→cluster→canonical path stays
    * available as the batch q_dedup_canonical. Scale shape: band keys
    * are per-doc (corpus-linear), the window partitions by
    * (band, band_key) — high-cardinality buckets, never all-pairs.
    */
  def curationKeepListLsh(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keepFirstHash = Window.partitionBy("text_hash").orderBy("doc_id")
    val wBand = Window.partitionBy("band", "band_key").orderBy("doc_id")
    val packW = Window.partitionBy("split", "source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deduped = docs
      .withColumn("tok", size(split(col("text"), " ")))
      .filter(col("tok") >= 20)
      .withColumn("text_hash", sha2(col("text").cast("binary"), 256))
      .withColumn("rn_hash", row_number().over(keepFirstHash))
      .filter(col("rn_hash") === 1)
    val bad = DedupQueries.bandKeysOf(deduped.select("doc_id", "text"))
      .withColumn("rn", row_number().over(wBand))
      .filter(col("rn") > 1)
      .select("doc_id").distinct()
    deduped.join(bad, Seq("doc_id"), "left_anti")
      .withColumn("bucket", expr(SamplingQueries.bucketExpr("doc_id")))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .withColumn("cum_before", sum(col("tok")).over(packW) - col("tok"))
      .withColumn("shard", expr("cum_before div 2048"))
      .select("doc_id", "lang", "source", "tok", "text_hash", "split", "shard")
  }

  /** DuckDB twin of [[curationKeepListLsh]], ending in
    * `lpacked(doc_id, split, source, lang, tok, shard)` — dedup stages
    * shared with [[keepListSql]]'s text, band keys via
    * [[DedupQueries.bandKeysSqlOver]] (the same CTE machinery the LSH
    * candidate oracles use).
    */
  private val keepListLshSql =
    s"""${keepStagesSql("l", "documents")},
      ${DedupQueries.bandKeysSqlOver("ldeduped", "l")},
      lbad AS (
        SELECT DISTINCT doc_id FROM (
          SELECT doc_id, row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
          FROM lbands) WHERE rn > 1),
      lkept AS (
        SELECT d.* FROM ldeduped d ANTI JOIN lbad b ON d.doc_id = b.doc_id),
      ${splitSql("l", "lkept")},
      ${packSql("l", "lsplitted", "doc_id, split, source, lang, tok")}"""

  /** The LEAKAGE-SAFE sibling of [[curationKeepList]] — the r14-verdict
    * remedy wiring q_split_safe's cluster-aware assignment INTO the
    * shipped chain instead of leaving it a standalone audit: gate →
    * exact dedup → weak-key near-dup → CLUSTER-AWARE split → pack.
    * Stage 4 buckets md5(coalesce(cluster_label, doc_id)) where the
    * label is the min doc_id of the doc's connected component over the
    * SERVED LSH candidate surface ([[DedupQueries.lshBandPairsOf]], the
    * same banding q_dedup_minhash serves) computed over the stage-3
    * ENTRANTS (stage-2 survivors) — so any two near-duplicate docs that
    * BOTH survive the weak prefix key (the leaky shape: near-dups whose
    * first 3 tokens differ) still share a label, hence a bucket, hence a
    * split, and the shipped corpus carries zero cross-split near-dup
    * pairs (q_curation_safe_leakage re-audits the actual output). The
    * LSH chain ([[curationKeepListLsh]]) needs no such remedy: its
    * entrants-block bucket rule already guarantees no two kept docs
    * share ANY band bucket, so its output is leak-free under any split
    * rule — the safe stage 4 exists for chains whose near-dup stage is
    * weaker than the audit surface. Scale shape: CC rides the candidate
    * graph (proven at 5M docs); the corpus-side cost over
    * [[curationKeepList]] is ONE left join against the candidate-sized
    * label table. STREAMING: deliberately batch-only — connected
    * components over an unbounded stream are not replay-stable (a later
    * batch's candidate edge can merge two clusters whose members were
    * already split-assigned and shipped, so labels — and thus splits —
    * of PAST docs would change retroactively, violating the sinks'
    * append-only keep-list contract); the streaming sinks keep the
    * per-doc hash split and a corpus owner runs this chain as the batch
    * re-shard step.
    */
  def curationKeepListSafe(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    curationKeepListSafeWithCand(docs)._1

  /** [[curationKeepListSafe]] plus the chain's own checkpointed LSH
    * candidate surface `cand(d1, d2)` over the stage-3 entrants — exposed
    * for q_curation_safe_leakage (r18, verdict item 4): band keys are
    * per-doc and deterministic, so the audit's candidate pairs over the
    * KEPT docs are exactly this surface restricted to kept×kept (which
    * the audit's inner joins against the kept split table already do).
    * Re-running the corpus-sized banding over the kept subset computed
    * the identical pair set a second time.
    */
  def curationKeepListSafeWithCand(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val keepFirstHash = Window.partitionBy("text_hash").orderBy("doc_id")
    val keepFirstKey = Window.partitionBy("lang", "prefix_key").orderBy("doc_id")
    val packW = Window.partitionBy("split", "source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deduped = docs
      .withColumn("tok", size(split(col("text"), " ")))
      .filter(col("tok") >= 20)
      .withColumn("text_hash", sha2(col("text").cast("binary"), 256))
      .withColumn("prefix_key", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .withColumn("rn_hash", row_number().over(keepFirstHash))
      .filter(col("rn_hash") === 1)
      // feeds BOTH the candidate surface and the returned keep-list plan:
      // materialize so the corpus-wide sha256 + hash-window pass runs
      // once (blocks land in the caller's materialization scope)
      .checkpointed
    val cand = DedupQueries.lshBandPairsOf(deduped.select("doc_id", "text"))
      .checkpointed
    val labels = ClusterQueries.clusterLabelsOf(cand)
    val keepList = deduped
      .withColumn("rn_key", row_number().over(keepFirstKey))
      .filter(col("rn_key") === 1)
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("bucket",
        expr(SamplingQueries.bucketExpr("coalesce(lbl, doc_id)")))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .withColumn("cum_before", sum(col("tok")).over(packW) - col("tok"))
      .withColumn("shard", expr("cum_before div 2048"))
      .select("doc_id", "lang", "source", "tok", "text_hash", "prefix_key",
        "lbl", "split", "shard")
    (keepList, cand)
  }

  /** DuckDB twin of [[curationKeepListSafe]] (requires WITH RECURSIVE):
    * the [[keepListSql]] stage text over the plants-augmented corpus,
    * the shared band-key CTE machinery for the candidate surface, the
    * shared transitive-closure labels, then the cluster-aware split +
    * pack — ending in `spacked(doc_id, lang, source, tok, text_hash,
    * prefix_key, text, lbl, split, shard)`.
    */
  private val keepListSafeSql =
    s"""${keepStagesSql("s", DedupQueries.plantsFullSql)},
      ${DedupQueries.bandKeysSqlOver("sdeduped", "s")},
      ${DedupQueries.candPairsSqlOver("sbands", "")},
      ${ClusterQueries.ccSqlOver("cand")},
      sassigned AS (
        SELECT k.doc_id, k.lang, k.source, k.tok, k.text_hash, k.prefix_key,
               k.text, l.lbl,
               ${DedupQueries.splitCase(SamplingQueries.bucketSql("coalesce(l.lbl, k.doc_id)"))} AS split
        FROM skeyed k LEFT JOIN labels l ON l.id = k.doc_id),
      ${packSql("s", "sassigned",
        "doc_id, lang, source, tok, text_hash, prefix_key, text, lbl, split")}"""

  /** I-e2e + I9: the cluster-aware curation chain aggregated per split —
    * q_curation_pipeline's report plus the clustering profile
    * (n_clustered_docs = docs whose split came from a cluster label
    * rather than their own id). Runs over the plants-augmented corpus
    * (the module's standard near-dup fixture: this corpus has no natural
    * near-dups, so without plants the cluster stage would be vacuous and
    * the query would prove nothing).
    */
  private val curationPipelineSafe = QueryDef(
    "q_curation_pipeline_safe",
    (spark, sfDir) => scope {
      val kl = curationKeepListSafe(DedupQueries.withPlantsFull(spark, sfDir))
      val g = kl.groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tok")).as("tok_total"),
          countDistinct(col("source"), col("shard")).as("n_shards"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("lbl").isNotNull, 1L).otherwise(0L)).as("n_clustered_docs"))
        .checkpointed // 3-row report; the scope releases the scaffold
      g.orderBy("split")
    },
    Some(s"""
      WITH RECURSIVE $keepListSafeSql
      SELECT split, count(*) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS tok_total,
             count(DISTINCT (source, shard)) AS n_shards,
             count(DISTINCT lang) AS n_langs,
             CAST(sum(CASE WHEN lbl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clustered_docs
      FROM spacked GROUP BY 1 ORDER BY 1
    """))

  /** The audit→remedy closure AT THE CHAIN'S OUTPUT (the r14-verdict
    * "done" bar): re-run the split-leakage measurement over the docs
    * [[curationKeepListSafe]] actually SHIPS, under both split rules.
    * Candidate pairs are the served LSH banding restricted to kept docs
    * (band keys are per-doc, so restriction = recomputation over the
    * subset); each pair lands in the split matrix once per rule —
    * `a_per_doc` (the old md5(doc_id) stage 4) shows the off-diagonal
    * straddlers the chain used to ship, `b_cluster` (the shipped rule)
    * must put every pair on the diagonal: both endpoints survived the
    * prefix stage, so they are same-cluster by the label construction
    * and is_leak = 0 structurally.
    */
  private val curationSafeLeakage = QueryDef(
    "q_curation_safe_leakage",
    (spark, sfDir) => scope {
      val docs = DedupQueries.withPlantsFull(spark, sfDir)
      // r18 (verdict item 4): reuse the chain's OWN checkpointed candidate
      // surface instead of re-running the corpus-sized banding over the
      // kept docs. Equivalence: band keys are per-doc, so kept-subset
      // pairs = full-surface pairs with both endpoints kept — and the
      // inner joins against `sp` (kept docs only) below apply exactly
      // that restriction. One banding pass instead of two.
      val (kl, cand) = curationKeepListSafeWithCand(docs)
      val kept = kl.select("doc_id", "split").checkpointed
      val sp = kept.withColumn("s_doc",
        expr(DedupQueries.splitCase(SamplingQueries.bucketExpr("doc_id"))))
      val j = cand
        .join(sp.select(col("doc_id").as("d1"), col("split").as("c1"),
          col("s_doc").as("p1")), "d1")
        .join(sp.select(col("doc_id").as("d2"), col("split").as("c2"),
          col("s_doc").as("p2")), "d2")
      val g = j.select(lit("a_per_doc").as("rule"),
          least(col("p1"), col("p2")).as("split_a"),
          greatest(col("p1"), col("p2")).as("split_b"))
        .unionByName(j.select(lit("b_cluster").as("rule"),
          least(col("c1"), col("c2")).as("split_a"),
          greatest(col("c1"), col("c2")).as("split_b")))
        .groupBy("rule", "split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"))
        .checkpointed // <=12-row matrix; the scope releases the scaffold
      g.selectExpr("rule", "split_a", "split_b",
          "CAST(split_a != split_b AS INT) AS is_leak", "n_pairs")
        .orderBy("rule", "split_a", "split_b")
    },
    Some(s"""
      WITH RECURSIVE $keepListSafeSql,
      ${DedupQueries.bandKeysSqlOver("spacked", "k")},
      kcand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM kbands a JOIN kbands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      sp AS (
        SELECT doc_id, split AS s_cl,
               ${DedupQueries.splitCase(SamplingQueries.bucketSql("doc_id"))} AS s_doc
        FROM spacked),
      mats AS (
        SELECT 'a_per_doc' AS rule,
               least(a.s_doc, b.s_doc) AS split_a,
               greatest(a.s_doc, b.s_doc) AS split_b
        FROM kcand c JOIN sp a ON a.doc_id = c.d1 JOIN sp b ON b.doc_id = c.d2
        UNION ALL
        SELECT 'b_cluster', least(a.s_cl, b.s_cl), greatest(a.s_cl, b.s_cl)
        FROM kcand c JOIN sp a ON a.doc_id = c.d1 JOIN sp b ON b.doc_id = c.d2)
      SELECT rule, split_a, split_b,
             CAST(split_a != split_b AS INT) AS is_leak,
             count(*) AS n_pairs
      FROM mats GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """))

  /** I-e2e with the REAL near-dup detector in the chain: the
    * [[curationKeepListLsh]] decision aggregated per split — what
    * q_curation_pipeline reports for the weak-key chain, for the
    * MinHash-LSH-backed one. Laid next to q_curation_pipeline this is
    * the knob comparison a corpus owner reads: how much more the
    * banding machinery removes than the prefix-key heuristic at
    * identical gate/split/pack stages.
    */
  private val curationPipelineLsh = QueryDef(
    "q_curation_pipeline_lsh",
    (spark, sfDir) => {
      curationKeepListLsh(Tables.documents(spark, sfDir))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tok")).as("tok_total"),
          countDistinct(col("source"), col("shard")).as("n_shards"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")
    },
    Some(s"""
      WITH $keepListLshSql
      SELECT split, count(*) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS tok_total,
             count(DISTINCT (source, shard)) AS n_shards,
             count(DISTINCT lang) AS n_langs
      FROM lpacked GROUP BY 1 ORDER BY 1
    """))

  /** I-e2e: the whole curation pipeline as ONE composed query — the
    * [[curationKeepList]] stage chain aggregated to per-split corpus
    * shape. Every stage is the oracled operator it reuses; composing them
    * proves the operators chain without driver-side glue.
    */
  private val curationPipeline = QueryDef(
    "q_curation_pipeline",
    (spark, sfDir) => {
      curationKeepList(Tables.documents(spark, sfDir))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tok")).as("tok_total"),
          countDistinct(col("source"), col("shard")).as("n_shards"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")
    },
    Some(s"""
      WITH $keepListSql
      SELECT split, count(*) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS tok_total,
             count(DISTINCT (source, shard)) AS n_shards,
             count(DISTINCT lang) AS n_langs
      FROM packed GROUP BY 1 ORDER BY 1
    """))

  /** Shard MANIFEST over the [[curationKeepList]] decision — the
    * operational artifact a training-data reader actually consumes:
    * one row per (split, source, shard) with its document count, token
    * total, and doc_id range, in deterministic order. q_shard_balance
    * summarizes the packing's distribution; this IS the packing, ready
    * to drive readers, resumable ingestion, and per-shard integrity
    * checks. Output is shard-count-sized — at 100 TB that is the
    * manifest itself (millions of rows, not corpus-sized), produced by
    * one aggregation over the shared keep-list.
    */
  private val shardManifest = QueryDef(
    "q_shard_manifest",
    (spark, sfDir) =>
      curationKeepList(Tables.documents(spark, sfDir))
        .groupBy("split", "source", "shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tok")).as("tokens"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
        .orderBy("split", "source", "shard"),
    Some(s"""
      WITH $keepListSql
      SELECT split, source, shard, count(*) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS tokens,
             CAST(min(doc_id) AS BIGINT) AS min_doc_id,
             CAST(max(doc_id) AS BIGINT) AS max_doc_id
      FROM packed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """))

  /** Shard-packing balance audit over the [[curationKeepList]] decision —
    * the load-leveling readout a 100 TB training run reads before
    * launching: per split, how many shards the packing produced, the
    * fill-factor distribution against the 2048-token boundary (mean /
    * min fill, % of capacity), and how many are the inevitable
    * under-full LAST shards of a (split, source) group. An ingest whose
    * shards are systematically under-filled wastes reader throughput;
    * one whose per-group tails dominate needs coarser groups. All work
    * after the shared keep-list is a shard-count-sized aggregation.
    */
  private val shardBalance = QueryDef(
    "q_shard_balance",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val wg = Window.partitionBy("split", "source")
      val shards = curationKeepList(Tables.documents(spark, sfDir))
        .withColumn("last_shard", max(col("shard")).over(wg))
        .groupBy("split", "source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("fill"),
          max(when(col("shard") === col("last_shard"), 1L).otherwise(0L)).as("is_last"))
      shards.groupBy("split")
        .agg(count(lit(1)).as("n_shards"),
          sum("is_last").as("n_tail_shards"),
          sum("fill").as("tok_total"),
          min("fill").as("min_fill"),
          sum(when(col("is_last") === 0, col("fill")).otherwise(0L)).as("full_fill"),
          sum(when(col("is_last") === 0, 1L).otherwise(0L)).as("n_full"))
        .selectExpr("split", "n_shards", "n_tail_shards", "tok_total", "min_fill",
          s"${Ql.R("CAST(tok_total AS DOUBLE) / n_shards / 2048.0 * 100", 4)} AS mean_fill_pct",
          s"${Ql.R("CASE WHEN n_full > 0 THEN CAST(full_fill AS DOUBLE) / n_full / 2048.0 * 100 ELSE 0.0 END", 4)} AS nontail_fill_pct")
        .orderBy("split")
    },
    Some(s"""
      WITH $keepListSql,
      shards AS (
        SELECT split, source, shard, count(*) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS fill,
               CASE WHEN shard = max(shard) OVER (PARTITION BY split, source)
                 THEN 1 ELSE 0 END AS is_last
        FROM packed GROUP BY split, source, shard),
      s AS (
        SELECT split, count(*) AS n_shards,
               CAST(sum(is_last) AS BIGINT) AS n_tail_shards,
               CAST(sum(fill) AS BIGINT) AS tok_total,
               CAST(min(fill) AS BIGINT) AS min_fill,
               CAST(sum(CASE WHEN is_last = 0 THEN fill ELSE 0 END) AS BIGINT) AS full_fill,
               CAST(sum(CASE WHEN is_last = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_full
        FROM shards GROUP BY 1)
      SELECT split, n_shards, n_tail_shards, tok_total, min_fill,
             ${Ql.R("CAST(tok_total AS DOUBLE) / n_shards / 2048.0 * 100", 4)} AS mean_fill_pct,
             ${Ql.R("CASE WHEN n_full > 0 THEN CAST(full_fill AS DOUBLE) / n_full / 2048.0 * 100 ELSE 0.0 END", 4)} AS nontail_fill_pct
      FROM s ORDER BY split
    """))

  /** Deterministic negative sampling for contrastive training pairs —
    * for every (customer, purchased part) positive, draw 3 candidate
    * negatives by hashing (user, item, slot) onto the part catalog,
    * then REJECT any candidate the user actually purchased (the
    * correctness step naive random negatives skip). Membership is a
    * pure hash function, so the sample is stable under replay and
    * repartition — the q_train_split contract extended to pair
    * generation. Scale shape: a 3× explode of the positives plus one
    * (user, item)-keyed anti join; the catalog bound is a 1-row
    * broadcast. Reports the per-slot kept/collision budget so the
    * effective negatives-per-positive rate is measured, not assumed.
    */
  private val negativeSampling = QueryDef(
    "q_negative_sampling",
    (spark, sfDir) => {
      // NOT declared-layout (r17 session 2, falsified): checkpointing pos
      // hash-partitioned by user cannot remove the rejection join's
      // exchanges — the join keys are (user, neg_item), Spark 4 requires
      // ALL cluster keys for co-partitioning (requireAllClusterKeysFor-
      // CoPartition=true), and neg_item is computed on the candidate side
      // so that side must shuffle regardless. Plain eager checkpoint.
      val pos = Tables.orders(spark, sfDir)
        .join(Tables.lineitem(spark, sfDir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
        .distinct()
        .checkpointed // feeds candidates AND the rejection join
      val pmax = Tables.part(spark, sfDir).agg(max("p_partkey").as("pmax"))
      val cands = pos
        .select(col("user"), col("item"), explode(expr("sequence(0, 2)")).as("slot"))
        .crossJoin(broadcast(pmax))
        .selectExpr("user", "item", "slot",
          s"1 + ${Ql.md5PrefixLong(
            "concat(CAST(user AS STRING), ':', CAST(item AS STRING), ':', CAST(slot AS STRING))",
            12)} % pmax AS neg_item")
      val kept = cands.join(
        pos.select(col("user"), col("item").as("neg_item")),
        Seq("user", "neg_item"), "left_anti")
      val nPos = pos.agg(count(lit(1)).as("n_pos"))
      kept.groupBy("slot").agg(count(lit(1)).as("n_kept"))
        .crossJoin(broadcast(nPos))
        .selectExpr("CAST(slot AS BIGINT) AS slot", "n_pos", "n_kept",
          "n_pos - n_kept AS n_rejected",
          s"${Ql.R("CAST(n_kept AS DOUBLE) / n_pos", 4)} AS keep_rate")
        .orderBy("slot")
    },
    Some(s"""
      WITH pos AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS item
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      pm AS (SELECT CAST(max(p_partkey) AS BIGINT) AS pmax FROM part),
      cands AS (
        SELECT u, item, slot,
               1 + ${Ql.Md5PrefixLong(
                 "CAST(u AS VARCHAR) || ':' || CAST(item AS VARCHAR) || ':' || CAST(slot AS VARCHAR)",
                 12)} % pmax AS neg_item
        FROM (SELECT u, item, unnest(generate_series(0, 2)) AS slot FROM pos)
        CROSS JOIN pm),
      kept AS (
        SELECT c.slot FROM cands c
        WHERE NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.u = c.u AND p.item = c.neg_item)),
      np AS (SELECT count(*) AS n_pos FROM pos)
      SELECT CAST(slot AS BIGINT) AS slot, n_pos,
             count(*) AS n_kept,
             CAST(n_pos - count(*) AS BIGINT) AS n_rejected,
             ${Ql.R("CAST(count(*) AS DOUBLE) / n_pos", 4)} AS keep_rate
      FROM kept CROSS JOIN np
      GROUP BY slot, n_pos ORDER BY slot
    """))

  /** Selection-bias audit of the curation decision — does the
    * gate+dedup chain systematically disfavor some ingest sources? A
    * keep-rate far from the corpus average silently reweights the
    * training mixture AFTER the mixture weights were chosen, the
    * classic way a "neutral" cleaning pass changes what the model sees.
    * Per source: corpus docs, kept docs (the shared
    * [[curationKeepList]] decision), keep rate, and the binomial
    * standardized residual z = (k − n·p̂)/√(n·p̂(1−p̂)) against the
    * overall rate, with a |z| > 2 flag. Two source-keyed aggregations
    * joined on the |sources|-row grid; the overall rate is a 1-row
    * broadcast.
    */
  private val dedupSourceBias: QueryDef = {
    val z = "((kept - n_docs * p) / sqrt(n_docs * p * (1.0 - p)))"
    QueryDef(
      "q_dedup_source_bias",
      (spark, sfDir) => {
        val docs = Tables.documents(spark, sfDir)
        val corpus = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val kept = curationKeepList(docs)
          .groupBy("source").agg(count(lit(1)).as("kept"))
        val tot = corpus.agg(sum("n_docs").as("nt"))
          .crossJoin(broadcast(kept.agg(sum("kept").as("kt"))))
          .selectExpr(s"${Ql.R("CAST(kt AS DOUBLE) / nt", 6)} AS p")
        corpus.join(kept, Seq("source"), "left")
          .na.fill(0L, Seq("kept"))
          .crossJoin(broadcast(tot))
          .selectExpr("source", "n_docs", "kept",
            s"${Ql.R("CAST(kept AS DOUBLE) / n_docs", 4)} AS keep_rate",
            s"${Ql.R("p", 4)} AS overall_rate",
            s"${Ql.R(z, 4)} AS z_residual",
            s"CAST(abs($z) > 2.0 AS INT) AS biased")
          .orderBy("source")
      },
      Some(s"""
        WITH $keepListSql,
        corpus AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        kept AS (SELECT source, count(*) AS kept FROM packed GROUP BY 1),
        tot AS (
          SELECT ${Ql.R("CAST((SELECT count(*) FROM packed) AS DOUBLE) / (SELECT count(*) FROM documents)", 6)} AS p)
        SELECT source, n_docs, COALESCE(kept, 0) AS kept,
               ${Ql.R("CAST(COALESCE(kept, 0) AS DOUBLE) / n_docs", 4)} AS keep_rate,
               ${Ql.R("p", 4)} AS overall_rate,
               ${Ql.R(z.replace("kept", "COALESCE(kept, 0)"), 4)} AS z_residual,
               CAST(abs(${z.replace("kept", "COALESCE(kept, 0)")}) > 2.0 AS INT) AS biased
        FROM corpus LEFT JOIN kept USING (source), tot
        ORDER BY source
      """))
  }

  /** Data-constrained scaling planner (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models", public): given the unique-token
    * supply U the [[curationKeepList]] decision actually keeps, how much
    * EFFECTIVE training data does repeating the corpus k epochs buy?
    * The paper's value model discounts each repetition exponentially
    * with half-life R* ≈ 15.4 effective repetitions; evaluated here in
    * discrete-compounding form D'(k) = U·(1 + R*·(1 − (1−1/R*)^(k−1)))
    * — the geometric-decay sum with literal multiplication-chain powers
    * (no libm exp/pow, fact #30; the 144e-1/154e-1 decay base is a
    * shared-text DOUBLE division identical in both engines). One row per
    * planned epoch count k ∈ {1,2,4,8,16}: tokens seen, effective
    * tokens, marginal efficiency, and the budget as a multiple of the
    * pre-dedup gated supply — the table that answers "repeat the
    * deduped corpus or keep the duplicates" with the paper's curve.
    * Corpus work: the keep-list stages plus one gate-level token sum;
    * everything after is arithmetic on a 1-row totals broadcast.
    */
  private val dataConstrainedScaling = QueryDef(
    "q_data_constrained_scaling",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      val u = curationKeepList(docs)
        .agg(sum(col("tok").cast("long")).as("u"))
      val t = docs
        .select(size(split(col("text"), " ")).cast("long").as("tok"))
        .filter(col("tok") >= 20)
        .agg(sum("tok").as("t"))
      val epochs = Seq(1, 2, 4, 8, 16)
      def decayChain(n: Int) =
        if (n == 0) "1e0"
        else List.fill(n)("(144e-1 / 154e-1)").mkString(" * ")
      def effText(k: Int) =
        s"(u * (1e0 + 154e-1 * (1e0 - ${decayChain(k - 1)})))"
      val stackArgs =
        epochs.map(k => s"${k}L, ${effText(k)}").mkString(", ")
      u.crossJoin(broadcast(t))
        .selectExpr("u", "t",
          s"stack(${epochs.size}, $stackArgs) AS (epochs, eff)")
        .selectExpr("epochs", "u AS tokens_unique", "t AS tokens_gated",
          "epochs * u AS tokens_seen",
          s"${Ql.R("eff", 2)} AS effective_tokens",
          s"${Ql.R("eff / (epochs * u)", 6)} AS efficiency",
          s"${Ql.R("CAST(epochs * u AS DOUBLE) / t", 4)} AS budget_vs_gated")
        .orderBy("epochs")
    },
    Some {
      val epochs = Seq(1, 2, 4, 8, 16)
      def decayChain(n: Int) =
        if (n == 0) "1e0"
        else List.fill(n)("(144e-1 / 154e-1)").mkString(" * ")
      val perK = epochs.map { k =>
        s"""SELECT ${k} AS epochs,
                   (u * (1e0 + 154e-1 * (1e0 - ${decayChain(k - 1)})))
                     AS eff, u, t
            FROM totals"""
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH $keepListSql,
      totals AS MATERIALIZED (
        SELECT (SELECT CAST(sum(tok) AS BIGINT) FROM packed) AS u,
               (SELECT CAST(sum(tok) AS BIGINT) FROM filtered) AS t),
      grid AS (
        $perK)
      SELECT CAST(epochs AS BIGINT) AS epochs,
             u AS tokens_unique, t AS tokens_gated,
             CAST(epochs * u AS BIGINT) AS tokens_seen,
             ${Ql.R("eff", 2)} AS effective_tokens,
             ${Ql.R("eff / (epochs * u)", 6)} AS efficiency,
             ${Ql.R("CAST(epochs * u AS DOUBLE) / t", 4)} AS budget_vs_gated
      FROM grid
      ORDER BY epochs
    """
    })

  /** I-leak-run: contamination RUN-LENGTH analysis — q_contamination says
    * WHETHER a test doc shares any 5-gram with train; this says HOW MUCH
    * of it is shared, the signal that separates verbatim leakage from
    * incidental phrase overlap (the GPT-3 appendix-C / PaLM "high
    * overlap" classification practice, public). Per test doc: the
    * longest run of CONSECUTIVE contaminated 5-gram positions
    * (gaps-and-islands — island key = pos − row_number over positions,
    * so an L-gram run means an L+4-token verbatim shared span), bucketed
    * into clean (no hit) / incidental (run < 8) / substantial (run ≥ 8,
    * i.e. a ≥12-token contiguous copy). Same scale shape as the audit it
    * extends: one gram pass, a per-gram hash join against the distinct
    * train set, and doc-keyed windows over HIT positions only (hit
    * volume, not corpus volume). Exact integer runs — no rounding
    * anywhere.
    */
  private val contamRunLength = QueryDef(
    "q_contam_run_length",
    (spark, sfDir) => scope {
      import org.apache.spark.sql.expressions.Window
      // scatter by doc_id: the truncation below materializes the scattered
      // layout, the hit-position windows re-use the doc_id clustering,
      // and the 5-gram posexplode + md5 runs 32-way instead of on the
      // single-row-group scan task
      val grams = Tables.scatter(Tables.documents(spark, sfDir))
        .withColumn("b", expr(SamplingQueries.bucketExpr("doc_id")))
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), col("lang"), col("b"),
          posexplode(expr(
            "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))"))
            .as(Seq("pos", "g")))
        .select(col("doc_id"), col("lang"), col("b"), col("pos"),
          expr(Ql.md5PrefixLong("g", 14)).as("sh"))
        // feeds the train set, the test side, and the test-doc roster
        .truncated
      val trainSh = grams.filter(col("b") < 90).select("sh").distinct()
      val test = grams.filter(col("b") >= 90)
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val longest = test.join(trainSh, Seq("sh"), "left_semi")
        .withColumn("isl", col("pos") - row_number().over(w))
        .groupBy("doc_id", "isl").agg(count(lit(1)).as("run_len"))
        .groupBy("doc_id").agg(max(col("run_len")).as("longest"))
      val report = test.select("doc_id", "lang").distinct()
        .join(longest, Seq("doc_id"), "left")
        .withColumn("longest", coalesce(col("longest"), lit(0L)))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_test"),
          sum((col("longest") === 0).cast("long")).as("n_clean"),
          sum((col("longest") >= 1 && col("longest") < 8).cast("long")).as("n_incidental"),
          sum((col("longest") >= 8).cast("long")).as("n_substantial"),
          max(col("longest")).as("max_run"),
          sum(col("longest")).as("sum_longest"))
        // |langs|-row report materialized while the truncation is alive
        .checkpointed
      report.orderBy("lang")
    },
    Some(s"""
      WITH g AS (
        SELECT doc_id, lang, b, i AS pos,
               ${Ql.Md5PrefixLong("array_to_string(t[i + 1 : i + 5], ' ')", 14)} AS sh
        FROM (SELECT doc_id, lang,
                     ${Ql.Md5PrefixLong("CAST(doc_id AS VARCHAR)", 4)} % 100 AS b,
                     t, unnest(generate_series(0, len(t) - 5)) AS i
              FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
                    FROM documents)
              WHERE len(t) >= 5)),
      train_sh AS (SELECT DISTINCT sh FROM g WHERE b < 90),
      hits AS (
        SELECT g.doc_id, g.pos FROM g JOIN train_sh USING (sh) WHERE g.b >= 90),
      runs AS (
        SELECT doc_id, isl, count(*) AS run_len
        FROM (SELECT doc_id,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
              FROM hits)
        GROUP BY 1, 2),
      longest AS (SELECT doc_id, max(run_len) AS longest FROM runs GROUP BY 1),
      test_docs AS (SELECT DISTINCT doc_id, lang FROM g WHERE b >= 90)
      SELECT d.lang, count(*) AS n_test,
             CAST(sum(CASE WHEN coalesce(l.longest, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
             CAST(sum(CASE WHEN coalesce(l.longest, 0) BETWEEN 1 AND 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_incidental,
             CAST(sum(CASE WHEN coalesce(l.longest, 0) >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_substantial,
             CAST(max(coalesce(l.longest, 0)) AS BIGINT) AS max_run,
             CAST(sum(coalesce(l.longest, 0)) AS BIGINT) AS sum_longest
      FROM test_docs d LEFT JOIN longest l ON d.doc_id = l.doc_id
      GROUP BY 1 ORDER BY 1
    """))

  /** I-casc: stage-wise dedup cascade — the production ordering (cheap
    * exact hash first, then LSH near-dup over the survivors) with each
    * stage's INCREMENTAL removal measured, the Dolma/FineWeb-style
    * readout that justifies running the expensive stage at all. Planted
    * truth on both stages: byte-identical copies of docs 20–29
    * (id+500000) fall to the exact stage; the standard first-token-
    * edited plants (id+100000) pass it and fall to the LSH+CC keep-min-id
    * stage. Per lang: docs and token mass entering, removed by each
    * stage, and kept. Scale shape: exact keep-first is a window over the
    * 32-byte content hash; the near-dup stage is the SERVED banded
    * pipeline + CC over the candidate graph (never all-pairs), and the
    * final tallies are one left join of survivors against the candidate-
    * graph-sized label table.
    */
  private val dedupCascade = QueryDef(
    "q_dedup_cascade",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("text"))
      val corpus = DedupQueries.withPlantsFull(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("text"))
        .unionByName(base.filter(col("doc_id") >= 20 && col("doc_id") < 30)
          .select((col("doc_id") + 500000).as("doc_id"), col("lang"), col("text")))
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      val wEx = Window
        .partitionBy(sha2(col("text").cast("binary"), 256)).orderBy("doc_id")
      val staged = corpus.withColumn("ex_rn", row_number().over(wEx))
        // feeds the survivor near-dup scaffold AND the per-lang tallies
        .checkpointed
      val surv = staged.filter(col("ex_rn") === 1)
      val labels = ClusterQueries.clusterLabelsOf(
        DedupQueries.lshBandPairsOf(surv.select(col("doc_id"), col("text"))))
        .withColumnRenamed("id", "doc_id")
      staged
        .join(labels, Seq("doc_id"), "left")
        .withColumn("stage", when(col("ex_rn") > 1, lit("exact"))
          .when(col("lbl").isNotNull && col("doc_id") > col("lbl"), lit("near"))
          .otherwise(lit("kept")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("tokens"),
          sum((col("stage") === "exact").cast("long")).as("exact_dropped"),
          sum((col("stage") === "near").cast("long")).as("near_dropped"),
          sum((col("stage") === "kept").cast("long")).as("kept"),
          sum(when(col("stage") === "kept", col("n_toks")).otherwise(lit(0L)))
            .as("tokens_kept"))
        .orderBy("lang")
    },
    Some(s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM (SELECT doc_id, lang, text FROM ${DedupQueries.plantsFullSql}
              UNION ALL
              SELECT doc_id + 500000, lang, text FROM documents
              WHERE doc_id >= 20 AND doc_id < 30)),
      staged AS (
        SELECT doc_id, lang, text, n_toks,
               row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS ex_rn
        FROM corpus),
      surv AS (SELECT doc_id, text FROM staged WHERE ex_rn = 1),
      ${DedupQueries.bandKeysSqlOver("surv", "c")},
      ${DedupQueries.candPairsSqlOver("cbands", "")},
      ${ClusterQueries.ccSqlOver("cand")},
      tagged AS (
        SELECT s.lang, s.n_toks,
               CASE WHEN s.ex_rn > 1 THEN 'exact'
                    WHEN l.lbl IS NOT NULL AND s.doc_id > l.lbl THEN 'near'
                    ELSE 'kept' END AS stage
        FROM staged s LEFT JOIN labels l ON s.doc_id = l.id)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS tokens,
             CAST(sum(CASE WHEN stage = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS exact_dropped,
             CAST(sum(CASE WHEN stage = 'near' THEN 1 ELSE 0 END) AS BIGINT) AS near_dropped,
             CAST(sum(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(sum(CASE WHEN stage = 'kept' THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_kept
      FROM tagged GROUP BY 1 ORDER BY 1
    """))

  /** I-leak-attr: contamination SOURCE attribution — q_contamination says
    * which test docs are hit; this says which TRAIN SOURCE leaked into
    * them, the readout that tells a pipeline owner where to aim the
    * scrub (one crawl source re-serving benchmark text is the common
    * cause). Train grams carry their source; a (test doc, source) pair
    * counts once per shared distinct gram. Per train source: test docs
    * reached, gram hits, and the share of all hits — exact integers.
    * Same scale shape as the audit: per-shingle hash joins on 8-byte
    * keys, never doc×doc.
    */
  private val contamAttribution = QueryDef(
    "q_contam_attribution",
    (spark, sfDir) => scope {
      val sh = contamShingles(Tables.documents(spark, sfDir), "source").truncated
      val trainSh = sh.filter(col("b") < 90).select("source", "sh").distinct()
      val hits = sh.filter(col("b") >= 90).select(col("doc_id"), col("sh"))
        .join(trainSh, "sh")
      val perSource = hits.groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_test_docs_hit"),
          count(lit(1)).as("n_gram_hits"))
      val tot = perSource.agg(sum(col("n_gram_hits")).as("total_hits"))
      val report = perSource.crossJoin(broadcast(tot))
        .withColumn("hit_share_pct",
          Ql.r(col("n_gram_hits") * lit(100.0) / col("total_hits"), 4))
        .select("source", "n_test_docs_hit", "n_gram_hits", "hit_share_pct")
        // |sources|-row report materialized while the truncation is alive
        .checkpointed
      report.orderBy("source")
    },
    Some(s"""
      WITH sh AS (${contamShSql("source")}),
      train_sh AS (SELECT DISTINCT source, sh FROM sh WHERE b < 90),
      hits AS (
        SELECT t.source, s.doc_id
        FROM sh s JOIN train_sh t ON s.sh = t.sh
        WHERE s.b >= 90),
      per_source AS (
        SELECT source, count(DISTINCT doc_id) AS n_test_docs_hit,
               count(*) AS n_gram_hits
        FROM hits GROUP BY 1),
      tot AS (SELECT CAST(sum(n_gram_hits) AS BIGINT) AS total_hits FROM per_source)
      SELECT source, n_test_docs_hit, CAST(n_gram_hits AS BIGINT) AS n_gram_hits,
             ${Ql.R("n_gram_hits * 100.0 / any_value(total_hits)", 4)} AS hit_share_pct
      FROM per_source CROSS JOIN tot
      GROUP BY source, n_test_docs_hit, n_gram_hits
      ORDER BY source
    """))

  /** I-pack-loc: duplicate-pair SHARD locality — whether the near-dup
    * pairs the prefix chain ships land in the same training shard. Two
    * copies of a document in ONE shard repeat inside adjacent training
    * batches (the worst placement for memorization and gradient
    * redundancy); spread across shards they at least land epochs apart.
    * Pairs = the SERVED LSH candidate surface over the chain's kept
    * docs (the q_curation_safe_leakage convention: audit what actually
    * ships); placement = the chain's own (split, source, shard)
    * packing. Per category (same-split, or cross_split): pair count
    * and the same-physical-shard share. Scale shape: the pair table is
    * candidate-sized; placements join to it by doc_id — two
    * hash joins, never corpus×corpus.
    */
  private val shardDupLocality = QueryDef(
    "q_shard_dup_locality",
    (spark, sfDir) => {
      val corpus = DedupQueries.withPlantsFull(spark, sfDir)
        // feeds the chain AND the kept-doc text join
        .checkpointed
      val keep = curationKeepList(corpus)
        .select("doc_id", "split", "source", "shard")
        // feeds the banding input AND both pair-endpoint joins
        .checkpointed
      val pairs = DedupQueries.lshBandPairsOf(
        keep.select("doc_id").join(corpus.select("doc_id", "text"), "doc_id"))
      val a = keep.select(col("doc_id").as("d1"), col("split").as("s1"),
        col("source").as("src1"), col("shard").as("h1"))
      val b = keep.select(col("doc_id").as("d2"), col("split").as("s2"),
        col("source").as("src2"), col("shard").as("h2"))
      pairs.join(a, "d1").join(b, "d2")
        .withColumn("category",
          when(col("s1") =!= col("s2"), lit("cross_split")).otherwise(col("s1")))
        .withColumn("same_shard",
          (col("s1") === col("s2") && col("src1") === col("src2") &&
            col("h1") === col("h2")).cast("long"))
        .groupBy("category")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("same_shard")).as("n_same_shard"),
          Ql.r(sum(col("same_shard")) * lit(100.0) / count(lit(1)), 4)
            .as("same_shard_pct"))
        .orderBy("category")
    },
    Some(s"""
      WITH planted AS (SELECT * FROM ${DedupQueries.plantsFullSql}),
      ${keepStagesSql("p", "planted")},
      ${splitSql("p", "pkeyed")},
      ${packSql("p", "psplitted", "doc_id, split, source, text")},
      kept_docs AS (SELECT doc_id, text FROM ppacked),
      ${DedupQueries.bandKeysSqlOver("kept_docs", "k")},
      ${DedupQueries.candPairsSqlOver("kbands", "")},
      tagged AS (
        SELECT CASE WHEN p1.split <> p2.split THEN 'cross_split' ELSE p1.split END
                 AS category,
               CASE WHEN p1.split = p2.split AND p1.source = p2.source
                         AND p1.shard = p2.shard THEN 1 ELSE 0 END AS same_shard
        FROM cand
        JOIN ppacked p1 ON cand.d1 = p1.doc_id
        JOIN ppacked p2 ON cand.d2 = p2.doc_id)
      SELECT category, count(*) AS n_pairs,
             CAST(sum(same_shard) AS BIGINT) AS n_same_shard,
             ${Ql.R("sum(same_shard) * 100.0 / count(*)", 4)} AS same_shard_pct
      FROM tagged GROUP BY 1 ORDER BY 1
    """))

  /** I-e2e-agr: keep-set agreement between the two shipped curation
    * chains — the prefix-key chain ([[curationKeepList]]) vs the LSH
    * bucket chain ([[curationKeepListLsh]]) over the same corpus, the
    * methods-comparison a pipeline owner reads before swapping near-dup
    * stages (the q_quality_filter_agreement discipline applied to
    * dedup): per lang, docs each chain keeps, the intersection, each
    * side's exclusive keeps, and keep-set Jaccard. Both chains are the
    * SERVED definitions; the comparison is two doc_id-keyed left joins
    * against the corpus — no new corpus pass beyond the chains
    * themselves.
    */
  private val chainAgreement = QueryDef(
    "q_chain_agreement",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
        // feeds both chains AND the roster join
        .checkpointed
      val a = curationKeepList(docs).select(col("doc_id"), lit(1L).as("in_a"))
      val b = curationKeepListLsh(docs).select(col("doc_id"), lit(1L).as("in_b"))
      docs.select("doc_id", "lang")
        .join(a, Seq("doc_id"), "left")
        .join(b, Seq("doc_id"), "left")
        .withColumn("in_a", coalesce(col("in_a"), lit(0L)))
        .withColumn("in_b", coalesce(col("in_b"), lit(0L)))
        .filter(col("in_a") === 1 || col("in_b") === 1)
        .groupBy("lang")
        .agg(
          sum(col("in_a")).as("n_prefix"),
          sum(col("in_b")).as("n_lsh"),
          sum(col("in_a") * col("in_b")).as("n_both"),
          sum(col("in_a") * (lit(1L) - col("in_b"))).as("prefix_only"),
          sum(col("in_b") * (lit(1L) - col("in_a"))).as("lsh_only"))
        .withColumn("jaccard_pct", Ql.r(
          col("n_both") * lit(100.0) / (col("n_prefix") + col("n_lsh") - col("n_both")), 4))
        .orderBy("lang")
    },
    Some(s"""
      WITH $keepListSql,
      $keepListLshSql,
      m AS (
        SELECT d.lang,
               CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_a,
               CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_b
        FROM documents d
        LEFT JOIN packed p ON d.doc_id = p.doc_id
        LEFT JOIN lpacked l ON d.doc_id = l.doc_id
        WHERE p.doc_id IS NOT NULL OR l.doc_id IS NOT NULL)
      SELECT lang,
             CAST(sum(in_a) AS BIGINT) AS n_prefix,
             CAST(sum(in_b) AS BIGINT) AS n_lsh,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
             CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS prefix_only,
             CAST(sum(in_b * (1 - in_a)) AS BIGINT) AS lsh_only,
             ${Ql.R("sum(in_a * in_b) * 100.0 / (sum(in_a) + sum(in_b) - sum(in_a * in_b))", 4)} AS jaccard_pct
      FROM m GROUP BY 1 ORDER BY 1
    """))

  /** I-leak-curve: the contamination flag's decision-knob curve — the
    * audit flags a test doc at n_hits ≥ 1; this sweeps the threshold
    * t ∈ {1, 2, 4, 8, 16} and reports flagged docs per tier, the
    * sensitivity readout (q_dedup_threshold_sweep's discipline applied
    * to decontamination: is the flag rate a cliff or a plateau?). One
    * [[contamDocHits]] pass; the 5 tiers are conditional sums unpivoted
    * from a single 1-row aggregate — no threshold join, no extra pass.
    */
  private val contamThresholdCurve = QueryDef(
    "q_contam_threshold_curve",
    (spark, sfDir) => {
      val agg = contamDocHits(Tables.documents(spark, sfDir))
        .agg(
          count(lit(1)).as("n_test"),
          sum((col("n_hits") >= 1).cast("long")).as("f1"),
          sum((col("n_hits") >= 2).cast("long")).as("f2"),
          sum((col("n_hits") >= 4).cast("long")).as("f4"),
          sum((col("n_hits") >= 8).cast("long")).as("f8"),
          sum((col("n_hits") >= 16).cast("long")).as("f16"))
      agg.selectExpr(
          """stack(5,
               1L, n_test, f1,
               2L, n_test, f2,
               4L, n_test, f4,
               8L, n_test, f8,
               16L, n_test, f16) AS (threshold, n_test, n_flagged)""")
        .withColumn("flag_pct",
          Ql.r(col("n_flagged") * lit(100.0) / col("n_test"), 4))
        .orderBy("threshold")
    },
    Some(s"""
      WITH sh AS (${contamShSql("lang")}),
      train_sh AS (SELECT DISTINCT sh FROM sh WHERE b < 90),
      hits AS (
        SELECT s.doc_id, count(*) AS n_hits
        FROM sh s JOIN train_sh t ON s.sh = t.sh
        WHERE s.b >= 90 GROUP BY 1),
      per_doc AS (
        SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits
        FROM (SELECT DISTINCT doc_id FROM sh WHERE b >= 90) d
        LEFT JOIN hits h ON d.doc_id = h.doc_id),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN n_hits >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(sum(CASE WHEN n_hits >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
               CAST(sum(CASE WHEN n_hits >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
               CAST(sum(CASE WHEN n_hits >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS f8,
               CAST(sum(CASE WHEN n_hits >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS f16
        FROM per_doc),
      tiers AS (
        SELECT 1 AS threshold, n_test, f1 AS n_flagged FROM agg
        UNION ALL SELECT 2, n_test, f2 FROM agg
        UNION ALL SELECT 4, n_test, f4 FROM agg
        UNION ALL SELECT 8, n_test, f8 FROM agg
        UNION ALL SELECT 16, n_test, f16 FROM agg)
      SELECT CAST(threshold AS BIGINT) AS threshold, n_test, n_flagged,
             ${Ql.R("n_flagged * 100.0 / n_test", 4)} AS flag_pct
      FROM tiers ORDER BY threshold
    """))

  override def defs: Seq[QueryDef] =
    Seq(packSequences, docChunks, contamination, decontamScrub,
      contamRunLength, dedupCascade, contamAttribution, shardDupLocality,
      chainAgreement, contamThresholdCurve, sampleReservoir,
      contamNgramSweep,
      curationPipeline, curationPipelineLsh, curationPipelineSafe,
      curationSafeLeakage, negativeSampling, shardBalance,
      shardManifest, dedupSourceBias, dataConstrainedScaling)
}
