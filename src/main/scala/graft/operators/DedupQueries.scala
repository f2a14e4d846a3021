package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Training-data deduplication operators (SURVEY §2.I1/I2): exact hash,
  * MinHash+LSH banding, SimHash, and n-gram Jaccard — plus embedding-cosine
  * near-dup. All are expressed as set/join algebra (shingle inverted index,
  * band-bucket self-join), the shapes that scale: no pairwise O(n²) work
  * except inside an LSH bucket or an explicit small candidate set.
  *
  * The corpus has no natural near-duplicates, so the near-dup queries
  * append perturbed copies of the first 10 documents (first token replaced)
  * — the detector must find exactly those plants.
  */
object DedupQueries extends QueryModule {

  /** The plant schemes below write planted copies at doc_id+100000 (and
    * q_dedup_cascade at +500000, derived from docs this guard already
    * covers): they assume real corpus ids stay below the offset. At a
    * larger SF a silent alias would keep Verify green while the planted
    * truth and keep-first ordering quietly degrade (ADVICE r15) — so the
    * guard rides the FULL-CORPUS branch's doc_id projection (column
    * pruning cannot drop it; that branch scans every row group anyway)
    * and fails the QUERY loudly instead. The plant branches keep the RAW
    * doc_id so their `doc_id < k` filters still push down to the parquet
    * scan — a CASE/raise_error projection is not source-pushable, and
    * guarding both branches would turn the cheap plant scan into a
    * second full-corpus read (r16 review finding).
    */
  private def guardedPlantBase(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id < 100000L, id).otherwise(raise_error(concat(
      lit("plant offset 100000 would alias real doc_id "), id.cast("string"))))

  /** documents ∪ perturbed copies of doc_id<10 (id+100000, first token
    * replaced) — the planted near-duplicates.
    */
  private[graft] def withPlants(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    raw.select(guardedPlantBase(col("doc_id")).as("doc_id"), col("text"))
      .unionByName(
        raw.filter(col("doc_id") < 10).select(
          (col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "zzz").as("text")))
  }

  private[operators] val plantsSql =
    """(SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, regexp_replace(text, '^\S+', 'zzz')
        FROM documents WHERE doc_id < 10)"""

  /** [[withPlants]] carrying the full (doc_id, lang, source, text) row —
    * for curation chains that need the planted near-dups AND the
    * split/pack columns (the plants keep their original lang/source, so
    * they flow through every stage like real near-duplicate crawls).
    */
  private[graft] def withPlantsFull(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    raw.select(guardedPlantBase(col("doc_id")).as("doc_id"),
        col("lang"), col("source"), col("text"))
      .unionByName(
        raw.filter(col("doc_id") < 10).select(
          (col("doc_id") + 100000).as("doc_id"), col("lang"), col("source"),
          regexp_replace(col("text"), "^\\S+", "zzz").as("text")))
  }

  private[operators] val plantsFullSql =
    """(SELECT doc_id, lang, source, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, lang, source, regexp_replace(text, '^\S+', 'zzz')
        FROM documents WHERE doc_id < 10)"""

  /** Per-OCCURRENCE 3-token shingle md5 halves: (doc_id, h1, h2), where
    * h1/h2 are the first/next 7 hex digits of md5(shingle) as int64 —
    * the exact integers both the minhash family and the 56-bit dedup
    * key are built from (md5PrefixLong(sh, 14) = h1·2²⁸ + h2,
    * bijectively). Deliberately NO distinct: the minhash consumers are
    * min-aggregations, which are multiplicity-insensitive, so the
    * signature path skips the corpus-wide distinct exchange outright
    * (guide §2.4); exact-set consumers apply their own distinct on the
    * two int64 halves (a cheaper exchange than the old shingle-string
    * distinct, same result set — distinct of a bijective projection).
    * The md5 runs AFTER the explode, as a top-level codegen'd
    * projection, not inside the transform lambda (higher-order-function
    * lambdas evaluate interpreted — ~2× slower, measured via Scratch
    * ngram_profile). [[Tables.scatter]] restores map parallelism over
    * the single-row-group bench corpus (no-op at scale).
    */
  private def shingleHalves(docs: DataFrame): DataFrame =
    Tables.scatter(docs)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))")).as("sh0"))
      .withColumn("m", md5(col("sh0").cast("binary")))
      .select(col("doc_id"),
        expr("CAST(conv(substring(m, 1, 7), 16, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substring(m, 8, 7), 16, 10) AS BIGINT)").as("h2"))

  /** The 56-bit combined key h1·2²⁸ + h2 == md5PrefixLong(sh, 14). */
  private def combinedSh(hh: DataFrame): DataFrame =
    hh.select(col("doc_id"),
      (col("h1") * lit(268435456L) + col("h2")).as("sh"))

  /** Distinct 3-token shingles per doc as their 56-bit md5-prefix int64:
    * (doc_id, sh) — the exact-set form ([[shingleIntersections]] input).
    * Same rows as the historical explode→md5→distinct: distinct over
    * (h1, h2) == distinct over the bijective combined key.
    */
  private def shingles(docs: DataFrame): DataFrame =
    combinedSh(shingleHalves(docs).distinct())

  /** df≤100-capped inverted-index intersection over a distinct
    * `(doc_id, sh)` shingle set: returns (inter(d1 < d2, inter),
    * sizes(doc_id, sz)). The scale guard is the one rule of this module
    * — a shingle in d docs yields d² pair rows inside one bucket, so
    * ubiquitous shingles (df > 100, zero dedup signal) are dropped
    * BEFORE the self-join; no-op on this corpus, load-bearing at 100 TB.
    * Shared by q_dedup_ngram_jaccard and q_containment so the guard and
    * the intersection algebra cannot drift between them.
    */
  private def shingleIntersections(
      sh: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // Broadcast the df>100 HOT-shingle EXCLUSION set, never the rare
    // set: under a Zipfian shingle law the rare side is ~the whole
    // vocabulary (corpus-scale at 100 TB, a guaranteed driver OOM),
    // while the hot side is small at ANY scale — hot shingles need
    // df·avg_doc_len corpus mass each, so their count is bounded by
    // corpus_tokens/100 and in practice by the power law's short head.
    // left_anti against the broadcast keeps exactly df≤100, same rows
    // as the old inner join against the rare list.
    val hotTab = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > 100).select("sh")
    val rare = sh.join(broadcast(hotTab), Seq("sh"), "left_anti")
    val inter = rare.select(col("sh"), col("doc_id").as("d1"))
      .join(rare.select(col("sh"), col("doc_id").as("d2")), "sh")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    (inter, sizes)
  }

  /** Oracle twin of [[shingleIntersections]] — CTE text appended after a
    * `sh(doc_id, sh)` CTE.
    */
  private val interCtesSql =
    """sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      rare AS (SELECT doc_id, sh FROM (
                 SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh)
               WHERE df <= 100),
      inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""

  private val shinglesSql =
    s"""SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS sh
        FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 3)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $plantsSql)
              WHERE len(t) >= 3)"""

  /** I1: exact dedup via content hash + keep-first on a normalized key.
    * Full-text sha256 finds byte-identical dups; the (lang, first-3-tokens)
    * projection shows collision-groups on a weaker key.
    */
  private val dedupExact = QueryDef(
    "q_dedup_exact",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("text_hash", sha2(col("text").cast("binary"), 256))
        .withColumn("prefix_key", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text_hash")).as("n_uniq_text"),
          countDistinct(col("prefix_key")).as("n_uniq_prefix"),
          (count(lit(1)) - countDistinct(col("prefix_key"))).as("n_prefix_dups"))
        .orderBy("lang"),
    Some("""
      SELECT lang, count(*) AS n_docs,
             count(DISTINCT sha256(text)) AS n_uniq_text,
             count(DISTINCT array_to_string(string_split(text, ' ')[1:3], ' ')) AS n_uniq_prefix,
             count(*) - count(DISTINCT array_to_string(string_split(text, ' ')[1:3], ' ')) AS n_prefix_dups
      FROM documents GROUP BY 1 ORDER BY 1
    """))

  /** I2a: MinHash + LSH banding, through DISTINCT candidate pairs. One
    * md5 per shingle; the 12 hash functions are a cheap integer
    * universal family over the md5's two 28-bit halves,
    * `mh_i = ((2i+1)·h1 + (i²+i+1)·h2 + i) mod (2³¹−1)` — pure int64
    * arithmetic, no overflow, identical in both engines. 4 bands × 3
    * rows; candidate pairs share at least one band bucket. The band
    * self-join is the scale path: pairs only form inside a bucket.
    * Shared by q_dedup_minhash (the candidate surface itself) and
    * q_dedup_recall (the quality metric over it), one definition so the
    * measured pipeline is the served one.
    */
  private def lshBandPairs(spark: SparkSession, sfDir: String): DataFrame =
    lshBandPairsOf(withPlants(spark, sfDir))

  /** The same banded pipeline over an arbitrary (doc_id, text) frame —
    * the hook ScaleSmokeSpec drives at 5M docs to prove the candidate
    * surface stays sparse and the planted-near-dup recall holds at 50×
    * the bench corpus. `seedOffset` selects a disjoint slice of the
    * universal hash family (seeds offset..offset+11) so
    * q_capture_recapture can run two INDEPENDENT instances of the
    * pipeline over one corpus.
    */
  private[graft] def lshBandPairsOf(docs: DataFrame, seedOffset: Int = 0): DataFrame =
    bandPairsFromWide(minhashSigsWide(shingleHalves(docs), seedOffset))

  /** 12 minhash values per doc as ONE wide row (doc_id, mh0..mh11) from
    * a (doc_id, h1, h2) shingle-halves frame — the signature stage of
    * [[lshBandPairsOf]]. Seeds run offset..offset+11, so distinct
    * offsets give independent hash functions from the same
    * `(2i+1)·h1 + (i²+i+1)·h2 + i mod p` family (coefficients stay
    * < 2⁶ · 2²⁸ — no int64 overflow through offset 12). The wide form
    * replaces the historical explode(seq 0..11) → groupBy(doc_id, seed)
    * → groupBy(doc_id, band) collect_list chain: one hash aggregate with
    * 12 codegen'd min buffers, ONE doc-keyed exchange instead of three
    * (distinct + per-seed + per-band), no ×12 row blowup, no
    * interpreted array_sort/transform lambdas (guide §2.4, §4.1). Input
    * multiplicity cannot change a min, so the occurrence frame needs no
    * distinct; per-seed mins are unchanged.
    */
  private def minhashSigsWide(hh: DataFrame, seedOffset: Int = 0): DataFrame = {
    val aggs = (0 until 12).map { i =>
      val s = i + seedOffset
      min(expr(s"(${2 * s + 1}L * h1 + ${s.toLong * s + s + 1}L * h2 + ${s}L) % 2147483647"))
        .as(s"mh$i")
    }
    hh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The historical long signature form (doc_id, seed, mh) as a
    * shuffle-free unpivot of [[minhashSigsWide]] — for consumers that
    * join per (doc_id, seed) (q_minhash_calibration's agreement join).
    */
  private def sigsLongFromWide(wide: DataFrame): DataFrame =
    wide.selectExpr("doc_id",
      "stack(12, " + (0 until 12).map(i => s"$i, mh$i").mkString(", ") +
        ") AS (seed, mh)")

  /** (doc_id, band, band_key) from a wide signature frame — the bucket
    * keys of the served 4×3 banding as a shuffle-free stack + concat_ws
    * (band b = seeds 3b..3b+2 in seed order, same comma-joined decimal
    * strings as the historical collect_list/array_sort path).
    */
  private def bandKeysFromWide(wide: DataFrame): DataFrame =
    wide.selectExpr("doc_id",
      "stack(4, " + (0 until 4).map { b =>
        s"$b, concat_ws(',', " +
          (0 until 3).map(r => s"CAST(mh${3 * b + r} AS STRING)").mkString(", ") + ")"
      }.mkString(", ") + ") AS (band, band_key)")

  /** (doc_id, band, band_key) over an arbitrary (doc_id, text) frame —
    * the per-doc LSH bucket keys of the SERVED 4×3 banding, exposed so
    * the streaming curation pipeline's near-dup stage and its batch twin
    * ([[graft.operators.PipelineQueries.curationKeepListLsh]]) bucket
    * documents with exactly the machinery q_dedup_minhash serves. Band
    * signatures are per-doc and batch-computable, which is what makes
    * the stage streamable: cross-batch state is just the bucket keys of
    * prior stage entrants.
    */
  private[graft] def bandKeysOf(docs: DataFrame): DataFrame =
    bandKeysFromWide(minhashSigsWide(shingleHalves(docs)))

  /** Plain-JVM twin of [[bandKeysOf]] for ONE document: (band, band_key)
    * pairs computed row-locally — the form a transformWithState pipeline
    * needs (band keys are a pure function of the text, but the DataFrame
    * form goes through explode/groupBy, which a continuous stream can't
    * run before its stateful operator). Must stay bit-identical to the
    * served banding: same md5 28-bit halves (hex digits 1–7 / 8–14),
    * same `(2i+1)·h1 + (i²+i+1)·h2 + i mod (2³¹−1)` family, same 4×3
    * comma-joined keys — ScaleSmokeSpec pins the equality on a real corpus.
    */
  private[graft] def bandKeysLocal(text: String): Seq[(Int, String)] = {
    val toks = text.split(" ", -1)
    if (toks.length < 3) return Seq.empty
    val mins = Array.fill(12)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new scala.collection.mutable.HashSet[String]
    var i = 0
    while (i <= toks.length - 3) {
      val sh = s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}"
      if (seen.add(sh)) {
        md.reset()
        val d = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 7 / next 7 hex digits of the md5 = top/next 28 bits of
        // the first 7 bytes (hex digit j is nibble j)
        var h1 = 0L; var h2 = 0L
        var j = 0
        while (j < 7) {
          val nib = (d(j / 2) >> (if (j % 2 == 0) 4 else 0)) & 0xf
          h1 = (h1 << 4) | nib
          j += 1
        }
        while (j < 14) {
          val nib = (d(j / 2) >> (if (j % 2 == 0) 4 else 0)) & 0xf
          h2 = (h2 << 4) | nib
          j += 1
        }
        var s = 0
        while (s < 12) {
          val hv = ((2L * s + 1) * h1 + (s.toLong * s + s + 1) * h2 + s) % 2147483647L
          if (hv < mins(s)) mins(s) = hv
          s += 1
        }
      }
      i += 1
    }
    (0 until 4).map(b => (b, s"${mins(3 * b)},${mins(3 * b + 1)},${mins(3 * b + 2)}"))
  }

  /** Oracle twin of [[bandKeysOf]]: CTE chain ending in `${pfx}bands
    * (doc_id, band, band_key)` over a CTE `src(doc_id, text)` — every
    * CTE name is prefixed so the chain composes into larger WITHs
    * (q_curation_pipeline_lsh splices it after its dedup stages). `off`
    * shifts the 12 hash seeds, for an independent second hash family
    * (q_capture_recapture).
    */
  private[graft] def bandKeysSqlOver(src: String, pfx: String, off: Int = 0): String = {
    val seed = if (off == 0) "g.i" else s"(g.i + $off)"
    s"""${pfx}sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS sh
        FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 3)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $src)
              WHERE len(t) >= 3)),
      ${pfx}msh AS (
        SELECT doc_id, sh,
               list_sum(list_transform(generate_series(0, 6), j ->
                 CAST(strpos('0123456789abcdef', substr(md5(sh), j + 1, 1)) - 1 AS BIGINT)
                   << (4 * (6 - j)))) AS h1,
               list_sum(list_transform(generate_series(0, 6), j ->
                 CAST(strpos('0123456789abcdef', substr(md5(sh), j + 8, 1)) - 1 AS BIGINT)
                   << (4 * (6 - j)))) AS h2
        FROM ${pfx}sh),
      ${pfx}mh AS (
        SELECT doc_id, g.i AS seed,
               min(((2 * $seed + 1) * h1 + ($seed * $seed + $seed + 1) * h2 + $seed) % 2147483647) AS mh
        FROM ${pfx}msh, generate_series(0, 11) g(i)
        GROUP BY 1, 2),
      ${pfx}bands AS (
        SELECT doc_id, seed // 3 AS band,
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_key
        FROM ${pfx}mh GROUP BY 1, 2)"""
  }

  /** The band-bucket candidate self-join as a CTE over a
    * `(doc_id, band, band_key)` CTE produced by [[bandKeysSqlOver]] —
    * ONE pair-rule text for every oracle that derives candidate pairs
    * from band keys (the parameterized-CTE convention: a change to the
    * candidate rule cannot silently de-synchronize the consumers).
    * Ends in `${"$"}{pfx}cand(d1, d2)`.
    */
  private[graft] def candPairsSqlOver(bands: String, pfx: String): String =
    s"""${pfx}cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM $bands a JOIN $bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"""

  /** Band-bucket self-join over a wide signature frame — the candidate
    * stage of [[lshBandPairsOf]]. SHUFFLE_HASH, not broadcast, on
    * purpose: a corpus-sized band-key table is never broadcastable at
    * scale (guide §3.1), and the shuffled plan makes the two sides'
    * exchanges canonically identical so ReuseExchange runs the whole
    * signature pipeline ONCE — the auto-broadcast plan rebuilt it twice,
    * once per join side (r17 plan audit: q_dedup_minhash carried two
    * complete scan→explode→sig subtrees, 18 exchanges).
    *
    * SHJ build-side memory math (r18, verdict item 5): the build side is
    * the band-key table — 4 rows/doc × ~40 B (band byte, 3 comma-joined
    * decimal int31 strings, doc_id) ≈ 160 B/doc, i.e. ~1.6% of a
    * 10 KB/doc corpus. Per-partition build = bands_bytes / shuffle
    * partitions; any partition sizing sane for the pipeline's OTHER
    * exchanges (the shingle exchange carries ~60× more bytes/doc; guide
    * §2.2 targets 100 MB–1 GB/partition) puts the per-partition hash map
    * at tens of MB. Skewed band keys are split by AQE's skew-join
    * handling, which covers shuffled-hash joins (guide §2.5).
    */
  private def bandPairsFromWide(wide: DataFrame): DataFrame = {
    val bands = bandKeysFromWide(wide)
    val a = bands.select(col("band"), col("band_key"), col("doc_id").as("d1"))
    val b = bands.select(col("band"), col("band_key"), col("doc_id").as("d2"))
    a.hint("shuffle_hash").join(b, Seq("band", "band_key"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  /** Oracle twin of [[lshBandPairs]]: [[bandKeysSqlOver]] over the
    * planted corpus, seeds offset by `off`, then [[candPairsSqlOver]],
    * ending in `${"$"}{pfx}cand(d1, d2)`. The band chain's CTEs are named
    * `${"$"}{pfx}l…` (`lsh`, `lmh`, `lbands` unprefixed), so it coexists
    * with the Jaccard side's `sh` CTE (q_dedup_recall), and two instances
    * with distinct prefixes and offsets coexist in one WITH
    * (q_capture_recapture); the unprefixed offset-0 instance is
    * [[lshCandSql]].
    */
  private def lshCandSqlNamed(pfx: String, off: Int) =
    s"""${bandKeysSqlOver(plantsSql, s"${pfx}l", off)},
      ${candPairsSqlOver(s"${pfx}lbands", pfx)}"""

  private val lshCandSql = lshCandSqlNamed("", 0)

  private val dedupMinhash = QueryDef(
    "q_dedup_minhash",
    (spark, sfDir) => lshBandPairs(spark, sfDir).orderBy("d1", "d2"),
    Some(s"""
      WITH $lshCandSql
      SELECT d1, d2 FROM cand ORDER BY 1, 2
    """))

  /** I2-recall: the LSH candidate generator's QUALITY metric — recall
    * and precision of [[lshBandPairs]] against the exact inverted-index
    * Jaccard ≥ 0.6 pairs (the same ground truth q_dedup_ngram_jaccard
    * reports, same threshold, same [[shingleIntersections]] core). The
    * dedup stack's mechanics are hash-matched elsewhere; this measures
    * what 4 bands × 3 rows actually catch: theoretical candidate
    * probability at J = 0.6 is 1−(1−0.6³)⁴ ≈ 0.62, ~1.0 at the planted
    * J ≈ 0.97 — so the reported recall cleanly separates "plants found"
    * from "borderline pairs missed", which is the operating knowledge a
    * 100 TB dedup run needs before picking its band geometry. One-row
    * report from three 1-row aggregates crossed (the q_funnel shape).
    */
  private val dedupRecall = QueryDef(
    "q_dedup_recall",
    (spark, sfDir) => scope {
      // Each corpus-sized pipeline must run exactly ONCE: the truth and
      // candidate pair sets are checkpointed (they are pair-list-sized,
      // not corpus-sized), every downstream count reads the checkpoint,
      // and the body is one materialization scope: the returned report
      // is a checkpoint, so every block pinned along the way is released
      // on return.
      // ONE corpus shingle pass feeds BOTH the exact truth and the LSH
      // candidates (r17: the candidate side previously re-ran the whole
      // explode from scratch): the truncated distinct (doc_id, h1, h2)
      // halves serve the 56-bit exact key by projection and the minhash
      // family directly (per-seed mins are the same over the distinct
      // set as over occurrences).
      val hh = shingleHalves(withPlants(spark, sfDir)).distinct().truncated
      val (inter, sizes) = shingleIntersections(combinedSh(hh))
      val truth = inter
        .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
        .withColumn("jacc", Ql.r(col("inter") / (col("sz1") + col("sz2") - col("inter")), 4))
        .filter(col("jacc") >= 0.6)
        .select(col("d1"), col("d2"))
        .checkpointed
      val cand = bandPairsFromWide(minhashSigsWide(hh)).checkpointed
      release(hh)
      val hit = truth.join(cand, Seq("d1", "d2"), "left_semi")
      val out = truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          Ql.r(col("n_hit") / col("n_truth").cast("double"), 4).as("recall"),
          Ql.r(col("n_hit") / col("n_cand").cast("double"), 4).as("precision"))
      out.checkpointed
    },
    Some(s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh", 14)} AS sh
        FROM ($shinglesSql)),
      $interCtesSql,
      truth AS (
        SELECT d1, d2
        FROM inter
          JOIN sizes s1 ON s1.doc_id = d1
          JOIN sizes s2 ON s2.doc_id = d2
        WHERE ${Ql.R("inter / (s1.sz + s2.sz - inter)", 4)} >= 0.6),
      $lshCandSql,
      hit AS (SELECT t.d1, t.d2 FROM truth t JOIN cand c
              ON c.d1 = t.d1 AND c.d2 = t.d2)
      SELECT (SELECT count(*) FROM truth) AS n_truth,
             (SELECT count(*) FROM cand) AS n_cand,
             (SELECT count(*) FROM hit) AS n_hit,
             ${Ql.R("(SELECT count(*) FROM hit) * 1.0 / (SELECT count(*) FROM truth)", 4)} AS recall,
             ${Ql.R("(SELECT count(*) FROM hit) * 1.0 / (SELECT count(*) FROM cand)", 4)} AS precision
    """))

  /** 60-bit SimHash fingerprints for `doc_id < maxDoc` (bit j of a token's
    * hash = bit (j mod 4) of hex digit j/4 of its md5 — the same arithmetic
    * is expressible in both engines). Shared by the fingerprint query (I2b)
    * and the banded hamming pair detector.
    */
  /** 60-bit SimHash fingerprint per doc over an arbitrary
    * (doc_id, text) frame — the generalization q_capture_recapture
    * drives over the plant corpus; [[simhashFp]] keeps the original
    * raw-documents signature for the oracled fingerprint/pair queries.
    */
  private def simhashFpOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
      .withColumn("j", explode(expr("sequence(0, 59)")))
      .withColumn("bit", expr(
        "((instr('0123456789abcdef', substring(h, 1 + CAST(j div 4 AS INT), 1)) - 1) >> (j % 4)) & 1"))
      .groupBy("doc_id", "j")
      .agg(sum(col("bit") * 2 - 1).as("s"))
      .groupBy("doc_id")
      .agg(sum(expr("CASE WHEN s >= 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END")).as("fingerprint"))

  private def simhashFp(spark: SparkSession, sfDir: String, maxDoc: Int): DataFrame =
    simhashFpOf(Tables.documents(spark, sfDir).filter(col("doc_id") < maxDoc))

  /** DuckDB twin of [[simhashFpOf]] — `src` is the source relation text
    * (with any inline WHERE), e.g. `documents WHERE doc_id < 100`.
    */
  private def simhashFpSqlFrom(src: String): String =
    s"""bits AS (
        SELECT doc_id, g.j,
               ((strpos('0123456789abcdef', substr(md5(tok), 1 + j // 4, 1)) - 1)
                 >> (j % 4)) & 1 AS bit
        FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM $src),
             generate_series(0, 59) g(j)),
      sums AS (SELECT doc_id, j, sum(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2),
      fp AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS f
        FROM sums GROUP BY doc_id)"""

  /** DuckDB twin of [[simhashFp]]. */
  private def simhashFpSql(maxDoc: Int): String =
    simhashFpSqlFrom(s"documents WHERE doc_id < $maxDoc")

  /** I2b: SimHash fingerprint + popcount per document. */
  private val dedupSimhash = QueryDef(
    "q_dedup_simhash",
    (spark, sfDir) =>
      simhashFp(spark, sfDir, 100)
        .select(col("doc_id"), col("fingerprint"),
          bit_count(col("fingerprint")).as("popcnt"))
        .orderBy("doc_id"),
    Some(s"""
      WITH ${simhashFpSql(100)}
      SELECT doc_id, f AS fingerprint,
             CAST(bit_count(f) AS INT) AS popcnt
      FROM fp ORDER BY doc_id
    """))

  /** I2b': SimHash near-dup pairs via the Manku-style banded index — the
    * 60-bit fingerprint splits into 4 bands of 15 bits; a pair within
    * hamming distance 3 has ≤ 3 flipped bits, so by pigeonhole at least
    * one band matches EXACTLY. Candidates therefore form only inside a
    * (band, band_key) bucket (a hash self-join, never all-pairs), and the
    * exact popcount(xor) filter runs only on candidates — identical
    * output to the brute-force oracle by construction, at inverted-index
    * cost. The doc_id < 200 cap bounds the demo corpus; at 100 TB the
    * band tables are the scale path (Manku et al., WWW'07, re-derived
    * from the public algorithm).
    */
  private val dedupSimhashPairs = QueryDef(
    "q_dedup_simhash_pairs",
    (spark, sfDir) => {
      val fp = simhashFp(spark, sfDir, 200).truncated
      val bands = fp.select(col("doc_id"), col("fingerprint"),
          explode(expr("sequence(0, 3)")).as("band"))
        .withColumn("band_key", expr("(fingerprint >> (15 * band)) & 32767"))
      val cands = bands.select(col("band"), col("band_key"),
          col("doc_id").as("d1"), col("fingerprint").as("f1"))
        .join(bands.select(col("band"), col("band_key"),
          col("doc_id").as("d2"), col("fingerprint").as("f2")),
          Seq("band", "band_key"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2", "f1", "f2").distinct()
      cands
        .withColumn("hamming", bit_count(expr("f1 ^ f2")))
        .filter(col("hamming") <= 3)
        .select(col("d1"), col("d2"), col("hamming").cast("int").as("hamming"))
        .orderBy("d1", "d2")
    },
    Some(s"""
      WITH ${simhashFpSql(200)}
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.f, b.f)) <= 3
      ORDER BY 1, 2
    """))

  /** I2c: n-gram Jaccard via shingle inverted index — intersections come
    * from a self-join on the shingle (sparse, never all-pairs), unions from
    * per-doc set sizes. Pairs with J >= 0.6 are near-dups.
    *
    * The join key is the shingle's 56-bit md5 prefix, not the ~20-char
    * string: hashing happens map-side BEFORE the distinct/join shuffles,
    * so shuffle bytes drop ~2.5× at any scale. The same hash runs in the
    * oracle, so even a (2⁻⁵⁶-rare) collision cannot diverge the engines.
    */
  private val dedupNgramJaccard = QueryDef(
    "q_dedup_ngram_jaccard",
    (spark, sfDir) => {
      val sh = shingles(withPlants(spark, sfDir)).truncated
      val (inter, sizes) = shingleIntersections(sh)
      inter
        .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
        .withColumn("jaccard", Ql.r(col("inter") / (col("sz1") + col("sz2") - col("inter")), 4))
        .filter(col("jaccard") >= 0.6)
        .select(col("d1"), col("d2"), col("jaccard"))
        .orderBy("d1", "d2")
    },
    Some(s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh", 14)} AS sh
        FROM ($shinglesSql)),
      $interCtesSql
      SELECT d1, d2,
             ${Ql.R("inter / (s1.sz + s2.sz - inter)", 4)} AS jaccard
      FROM inter
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
      WHERE ${Ql.R("inter / (s1.sz + s2.sz - inter)", 4)} >= 0.6
      ORDER BY 1, 2
    """))

  /** I2d: embedding-cosine near-dup via sign-projection LSH banding —
    * never all-pairs. Band b's bucket key is the sign pattern of dims
    * [16b+1..16b+16] (3 bands): a near-identical pair agrees on every
    * band; an unrelated pair collides on a given band with p ≈ 2⁻¹⁶.
    * Candidates only form inside a (band, sig) bucket — the same
    * band-join algebra as MinHash LSH, so the plan is hash joins all the
    * way down (no CartesianProduct; PlanSpec asserts this). The exact
    * cosine then runs only on candidates. Brute-force all-pairs remains
    * in VectorSpec as the recall ground truth.
    *
    * Plants: copies of vec_id<10 with the last component shifted by +0.1
    * (id+100000) — cosine ≈ 0.995 vs a natural pair maximum of ~0.44;
    * dims 1-48 are untouched so every band matches and threshold 0.9
    * returns exactly the plants.
    */
  private val dedupEmbed = QueryDef(
    "q_dedup_embed",
    (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      // truncated: referenced by both sides of the band self-join and both
      // candidate→vector joins — without it the union + parquet scan
      // re-executes four times
      val planted = e.unionByName(
        e.filter(col("vec_id") < 10).select(
          (col("vec_id") + 100000).as("vec_id"),
          expr("concat(slice(v, 1, 63), array(element_at(v, 64) + 0.1d))").as("v")))
        .truncated
      // id-only banding table (vectors NOT duplicated per band)
      val banded = planted
        .select(col("vec_id"), explode(expr("sequence(0, 2)")).as("band"), col("v"))
        .withColumn("sig", expr(
          "concat_ws('', transform(slice(v, band * 16 + 1, 16), x -> CASE WHEN x >= 0D THEN '1' ELSE '0' END))"))
        .select("band", "sig", "vec_id")
      val cands = banded.select(col("band"), col("sig"), col("vec_id").as("d1"))
        .join(banded.select(col("band"), col("sig"), col("vec_id").as("d2")),
          Seq("band", "sig"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2").distinct()
      // norms precomputed once per vector; cosine only on candidates
      val normed = planted.withColumn("norm", sqrt(Vectors.normSq(col("v"))))
      cands
        .join(normed.select(col("vec_id").as("d1"), col("v").as("v1"), col("norm").as("n1")), "d1")
        .join(normed.select(col("vec_id").as("d2"), col("v").as("v2"), col("norm").as("n2")), "d2")
        .withColumn("cos", Ql.r(Vectors.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
        .filter(col("cos") > 0.9)
        .select(col("d1"), col("d2"), col("cos"))
        .orderBy("d1", "d2")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      planted AS (
        SELECT * FROM e
        UNION ALL
        SELECT vec_id + 100000, v[1:63] || [v[64] + 0.1] FROM e WHERE vec_id < 10),
      banded AS (
        SELECT vec_id, g.b AS band,
               array_to_string(list_transform(v[g.b * 16 + 1 : g.b * 16 + 16],
                 x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS sig
        FROM planted, generate_series(0, 2) g(b)),
      cands AS (
        SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
      normed AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM planted)
      SELECT d1, d2,
             ${Ql.R("list_dot_product(a.v, b.v) / (a.norm * b.norm)", 4)} AS cos
      FROM cands
        JOIN normed a ON a.vec_id = d1
        JOIN normed b ON b.vec_id = d2
      WHERE ${Ql.R("list_dot_product(a.v, b.v) / (a.norm * b.norm)", 4)} > 0.9
      ORDER BY 1, 2
    """))

  /** I2e: fuzzy (edit-distance) join with blocking — record-linkage shape:
    * candidates come from a cheap blocking key (first 2 tokens), then the
    * expensive levenshtein runs only inside a block. Finds the plants
    * (perturbed first token ⇒ blocked on tokens 2-3 of the original...
    * so block on a mid-document key: tokens 4-5, unchanged by the plant).
    */
  private val fuzzyJoin = QueryDef(
    "q_fuzzy_join",
    (spark, sfDir) => {
      val d = withPlants(spark, sfDir)
        .withColumn("block", concat_ws(" ", expr("slice(split(text, ' '), 4, 2)")))
        .withColumn("len", length(col("text")))
      val a = d.select(col("block"), col("doc_id").as("d1"),
        col("text").as("t1"), col("len").as("len1"))
      val b = d.select(col("block"), col("doc_id").as("d2"),
        col("text").as("t2"), col("len").as("len2"))
      // candidate pairs: block equality + cheap length pre-filter ONLY.
      // The truncation is deliberate — it is a predicate-pushdown barrier.
      // Without it Catalyst pushes the levenshtein filter INTO the join
      // condition, where it is re-evaluated per conjunct for every
      // block-equal pair before d1<d2 prunes (measured 6× slower). The
      // candidate set is blocking-filtered, i.e. tiny relative to the
      // corpus, so materializing it is the scale-correct shape too.
      val cand = a.join(b, Seq("block"))
        .filter(col("d1") < col("d2"))
        .filter(abs(col("len1") - col("len2")) <= 8)
        .select("d1", "d2", "t1", "t2")
        .truncated
      // thresholded levenshtein: early-exits (returns -1) once the
      // distance provably exceeds 8 — a non-dup pair bails after a few
      // rows of the banded DP matrix instead of filling all O(n·m) of it
      cand
        .withColumn("dist", expr("levenshtein(t1, t2, 8)"))
        .filter(col("dist").between(0, 8))
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy("d1", "d2")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, text,
               array_to_string(string_split(text, ' ')[4:5], ' ') AS block,
               length(text) AS len
        FROM $plantsSql)
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(levenshtein(a.text, b.text) AS INT) AS dist
      FROM d a JOIN d b
        ON a.block = b.block AND a.doc_id < b.doc_id
       AND abs(a.len - b.len) <= 8
      WHERE levenshtein(a.text, b.text) <= 8
      ORDER BY 1, 2
    """))

  /** I2f: ASYMMETRIC containment join — C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    * (Broder's containment, the quote/sub-document detector Jaccard
    * misses: a 20-token excerpt inside a 100-token doc has containment
    * 1.0 but Jaccard ≈ 0.2). Same inverted-index + df≤100 algebra as
    * q_dedup_ngram_jaccard; the one undirected intersection count fans
    * into BOTH directed rows, each normalized by its own source size.
    * Plants: the first 20 tokens of doc_id<5 re-registered as standalone
    * docs (id+200000) — true sub-documents, so the ≥0.8 band is
    * non-vacuous and direction-sensitive (excerpt→source passes,
    * source→excerpt does not).
    */
  private val containment = QueryDef(
    "q_containment",
    (spark, sfDir) => scope {
      val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val planted = d.unionByName(
        d.filter(col("doc_id") < 5).select(
          (col("doc_id") + 200000).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 20)).as("text")))
      val sh = shingles(planted).truncated
      val (inter, sizes) = shingleIntersections(sh)
      val directed = inter
        .select(col("d1").as("src"), col("d2").as("dst"), col("inter"))
        .unionByName(inter
          .select(col("d2").as("src"), col("d1").as("dst"), col("inter")))
      // materialize the tiny result; the scope then releases the
      // shingle truncation, which the checkpoint no longer reaches
      val out = directed
        .join(sizes.select(col("doc_id").as("src"), col("sz")), "src")
        .withColumn("containment", Ql.r(col("inter") / col("sz"), 4))
        .filter(col("containment") >= 0.8)
        .select(col("src"), col("dst"), col("containment"))
        .checkpointed
      out.orderBy("src", "dst")
    },
    Some {
      val planted =
        """(SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 200000, array_to_string(string_split(text, ' ')[1:20], ' ')
            FROM documents WHERE doc_id < 5)"""
      s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh0", 14)} AS sh
        FROM (SELECT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS sh0
              FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 3)) AS i
                    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $planted)
                    WHERE len(t) >= 3))),
      $interCtesSql,
      directed AS (
        SELECT d1 AS src, d2 AS dst, inter FROM inter
        UNION ALL SELECT d2, d1, inter FROM inter)
      SELECT src, dst, ${Ql.R("inter / sz", 4)} AS containment
      FROM directed JOIN sizes ON sizes.doc_id = src
      WHERE ${Ql.R("inter / sz", 4)} >= 0.8
      ORDER BY 1, 2
    """
    })

  /** I2g: sorted-neighborhood blocking (Hernández & Stolfo 1995, public)
    * — the LINEAR-candidate alternative to LSH: sort the corpus by a
    * canonical key, compare each doc only to its w=2 ordinal neighbors,
    * verify candidates with a row-local shingle-set Jaccard. Candidates
    * are O(n·w) by construction — no bucket can blow up, the trade being
    * recall (only near-sorted dups are found). The key is the SORTED
    * last-8-token multiset, chosen because the planted near-dups differ
    * in their first token only — robustness comes from keying on the
    * part of the doc the perturbation didn't touch.
    *
    * The global sort is the two-level ordinal pattern proven by
    * q_global_ordinals (per-bucket distributed windows + tiny histogram
    * offsets — never a single-partition window); the pair step is an
    * equi-join on `ordinal + k`, and the Jaccard verify builds both
    * shingle sets INSIDE the pair row (array_intersect over ~100-element
    * arrays) — per-candidate work is O(doc length), with no second
    * corpus-wide shuffle.
    */
  private val sortedNeighborhood = QueryDef(
    "q_dedup_sorted_neighborhood",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = withPlants(spark, sfDir)
        .withColumn("t", split(col("text"), " "))
        .filter(size(col("t")) >= 3)
        .withColumn("key", concat_ws(" ",
          array_sort(expr("slice(t, greatest(1, size(t) - 7), 8)"))))
      // two-level global rank over (key, doc_id): range-bucket on the
      // key's first 2 chars, rank within bucket, offset from the tiny
      // per-bucket histogram (see q_global_ordinals)
      val offsets = docs.groupBy(substring(col("key"), 1, 2).as("bkt"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("offset",
          coalesce(sum(col("cnt")).over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "offset")
      val inBucket = Window.partitionBy("bkt").orderBy("key", "doc_id")
      // build each doc's shingle set ONCE here, not per candidate pair:
      // the transform lambda evaluates interpreted, so doing it on the
      // pair side costs 2·w× the work (measured 3.2 s → ~2 s at sf0.1)
      val shOf = (c: String) =>
        s"array_distinct(transform(sequence(0, size($c) - 3), i -> concat_ws(' ', slice($c, i + 1, 3))))"
      val ranked = docs
        .withColumn("bkt", substring(col("key"), 1, 2))
        .join(broadcast(offsets), "bkt")
        .withColumn("ordinal", col("offset") + row_number().over(inBucket))
        .select(col("doc_id"), expr(shOf("t")).as("s"), col("ordinal"))
      val right = ranked.select(col("ordinal").as("o2"),
        col("doc_id").as("d2"), col("s").as("s2"))
      ranked
        .select(col("doc_id").as("d1"), col("s").as("s1"),
          explode(expr("array(1, 2)")).as("k"), col("ordinal"))
        .withColumn("o2", col("ordinal") + col("k"))
        .join(right, "o2")
        .withColumn("inter", size(array_intersect(col("s1"), col("s2"))))
        .withColumn("jaccard",
          Ql.r(col("inter") / (size(col("s1")) + size(col("s2")) - col("inter")), 4))
        .filter(col("jaccard") >= 0.6)
        .select(least(col("d1"), col("d2")).as("da"),
          greatest(col("d1"), col("d2")).as("db"), col("jaccard"))
        .orderBy("da", "db")
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, t,
               array_to_string(list_sort(t[greatest(1, len(t) - 7) : greatest(1, len(t) - 7) + 7]), ' ') AS key
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $plantsSql)
        WHERE len(t) >= 3),
      ranked AS (
        SELECT doc_id, t,
               row_number() OVER (ORDER BY key, doc_id) AS ordinal
        FROM docs),
      pairs AS (
        SELECT a.doc_id AS d1, a.t AS t1, b.doc_id AS d2, b.t AS t2
        FROM ranked a JOIN ranked b
          ON b.ordinal - a.ordinal IN (1, 2)),
      scored AS (
        SELECT d1, d2,
               len(list_intersect(s1, s2)) AS inter,
               len(s1) AS z1, len(s2) AS z2
        FROM (SELECT d1, d2,
                list_distinct(list_transform(generate_series(0, len(t1) - 3),
                  i -> array_to_string(t1[i + 1 : i + 3], ' '))) AS s1,
                list_distinct(list_transform(generate_series(0, len(t2) - 3),
                  i -> array_to_string(t2[i + 1 : i + 3], ' '))) AS s2
              FROM pairs))
      SELECT least(d1, d2) AS da, greatest(d1, d2) AS db,
             ${Ql.R("inter / (z1 + z2 - inter)", 4)} AS jaccard
      FROM scored
      WHERE ${Ql.R("inter / (z1 + z2 - inter)", 4)} >= 0.6
      ORDER BY 1, 2
    """))

  /** First-occurrence 8-gram novelty: every distinct 8-token shingle is
    * attributed to the lowest doc_id containing it (corpus-order "who
    * said it first"); a document's novelty is the fraction of its
    * distinct 8-grams it introduced. The 15 least-novel documents are
    * reported — on the planted corpus these are exactly the 10 plants
    * (only the windows touching the perturbed first token are new) plus
    * the most template-like originals. Scale shape: grams are hashed to
    * 56-bit int64 BEFORE the distinct/groupBy shuffles (8-byte exchange
    * keys) and hashed identically in the oracle, so even a collision
    * cannot diverge the engines; the attribution is one groupBy(min) +
    * one equi-join back — no all-pairs anywhere, and at 100 TB the
    * min-doc table is the same inverted-index shape the dedup family
    * already exchanges. Per-doc novelty is a ratio of exact integers, so
    * the order-by-novelty top-k is deterministic across engines
    * (doc_id tiebreak).
    */
  private val ngramNovelty = QueryDef(
    "q_ngram_novelty",
    (spark, sfDir) => {
      // scatter by doc_id: absorbed by the (doc_id, g) distinct (doc_id
      // is a subset of its grouping keys), so the 8-gram explode + md5
      // runs 32-way instead of on the single-row-group scan task
      val grams = Tables.scatter(withPlants(spark, sfDir))
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 8), i -> concat_ws(' ', slice(toks, i + 1, 8)))")).as("g0"))
        .select(col("doc_id"), expr(Ql.md5PrefixLong("g0", 14)).as("g"))
        .distinct()
      val first = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
      grams.join(first, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          Ql.r(col("n_novel") / col("n_grams").cast("double"), 4))
        // sort on the UNROUNDED ratio (exact in both engines — ints + one
        // division); sorting on the rounded column would manufacture ties
        // whose doc_id tiebreak disagrees with the oracle's exact order
        .orderBy(col("n_novel") / col("n_grams").cast("double"), col("doc_id"))
        .limit(15)
    },
    Some(s"""
      WITH g0 AS (
        SELECT DISTINCT doc_id,
               ${Ql.Md5PrefixLong("array_to_string(t[i + 1 : i + 8], ' ')", 14)} AS g
        FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 8)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $plantsSql)
              WHERE len(t) >= 8)),
      f AS (SELECT g, min(doc_id) AS first_doc FROM g0 GROUP BY 1),
      pd AS (
        SELECT g0.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN f.first_doc = g0.doc_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_novel
        FROM g0 JOIN f ON g0.g = f.g GROUP BY 1)
      SELECT doc_id, n_grams, n_novel,
             ${Ql.R("n_novel / CAST(n_grams AS DOUBLE)", 4)} AS novelty
      FROM pd
      ORDER BY n_novel / CAST(n_grams AS DOUBLE), doc_id
      LIMIT 15
    """))

  /** I2-calibration: does the 12-hash signature ESTIMATE the Jaccard it
    * is supposed to estimate? For every LSH candidate pair, the fraction
    * of agreeing minhashes (an unbiased estimator of J) is laid next to
    * the exact shingle-set Jaccard, with the absolute error — the
    * per-pair evidence behind q_dedup_recall's aggregate quality claim,
    * and the number a 100 TB run consults before trusting signature
    * agreement as a dedup threshold. Signature agreement is a 12-row
    * join per CANDIDATE pair (report-sized); the exact side reuses the
    * guarded shingle-intersection machinery.
    */
  private val minhashCalibration = QueryDef(
    "q_minhash_calibration",
    (spark, sfDir) => scope {
      val docs = withPlants(spark, sfDir)
      // ONE corpus shingle pass feeds the signatures AND the exact
      // scorer (r17: previously two independent explode+distinct passes,
      // one per side); the wide 12-min signature row is checkpointed
      // once and serves both the band join and the per-seed agreement
      // join (unpivoted shuffle-free via stack).
      val hh = shingleHalves(docs).distinct().truncated
      val wide = minhashSigsWide(hh).checkpointed
      val sigs = sigsLongFromWide(wide)
      val cand = bandPairsFromWide(wide).checkpointed
      val (inter, sizes) = shingleIntersections(combinedSh(hh))
      val est = cand
        .join(sigs.select(col("doc_id").as("d1"), col("seed"), col("mh").as("mh1")), "d1")
        .join(sigs.select(col("doc_id").as("d2"), col("seed"), col("mh").as("mh2")),
          Seq("d2", "seed"))
        .groupBy("d1", "d2")
        .agg(sum(when(col("mh1") === col("mh2"), 1L).otherwise(0L)).as("n_common_mh"))
      val out = est
        .join(inter, Seq("d1", "d2"), "left")
        .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .selectExpr("d1", "d2", "n_common_mh",
          s"${Ql.R("n_common_mh / 12.0", 4)} AS est_jaccard",
          s"${Ql.R("CAST(inter AS DOUBLE) / (sz1 + sz2 - inter)", 4)} AS exact_jaccard",
          s"${Ql.R("abs(n_common_mh / 12.0 - CAST(inter AS DOUBLE) / (sz1 + sz2 - inter))", 4)} AS abs_err")
        .orderBy("d1", "d2")
      out.checkpointed
    },
    Some(s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh", 14)} AS sh
        FROM ($shinglesSql)),
      $interCtesSql,
      $lshCandSql,
      est AS (
        SELECT c.d1, c.d2,
               CAST(sum(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_common_mh
        FROM cand c
          JOIN lmh m1 ON m1.doc_id = c.d1
          JOIN lmh m2 ON m2.doc_id = c.d2 AND m1.seed = m2.seed
        GROUP BY 1, 2),
      j AS (
        SELECT e.d1, e.d2, e.n_common_mh, COALESCE(i.inter, 0) AS inter,
               s1.sz AS sz1, s2.sz AS sz2
        FROM est e
          LEFT JOIN inter i ON i.d1 = e.d1 AND i.d2 = e.d2
          JOIN sizes s1 ON s1.doc_id = e.d1
          JOIN sizes s2 ON s2.doc_id = e.d2)
      SELECT d1, d2, n_common_mh,
             ${Ql.R("n_common_mh / 12.0", 4)} AS est_jaccard,
             ${Ql.R("CAST(inter AS DOUBLE) / (sz1 + sz2 - inter)", 4)} AS exact_jaccard,
             ${Ql.R("abs(n_common_mh / 12.0 - CAST(inter AS DOUBLE) / (sz1 + sz2 - inter))", 4)} AS abs_err
      FROM j ORDER BY d1, d2
    """))

  /** Content-defined chunking dedup (the LBFS rolling-window cutpoint
    * scheme, Muthitacharoen et al. SOSP 2001) at TOKEN granularity — the
    * sub-document layer of the dedup stack: document-level detectors
    * (exact / MinHash / SimHash above) miss boilerplate PARAGRAPHS
    * repeated across otherwise-distinct pages, and fixed-size chunking
    * breaks on any insertion. A position is a cutpoint when the 4-token
    * window ending there hashes ≡ 0 (mod 8) — content-defined, so an
    * edit only re-chunks its neighborhood (expected chunk ≈ 8 tokens,
    * geometric). Reports the chunk-level duplication profile: how many
    * chunks, how many distinct, and the token fraction sub-document
    * dedup would reclaim. Scale shape: per-doc windows (doc-bounded
    * partitions), chunk assembly shuffles (doc_id, chunk)-local strings
    * once, and the global dup count shuffles only 8-byte chunk digests —
    * never payloads (the q_dedup_exact discipline one level down).
    */
  private val cdcChunkDedup = QueryDef(
    "q_cdc_chunk_dedup",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val wd = Window.partitionBy("doc_id").orderBy("pos")
      val tok = Tables.documents(spark, sfDir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val cuts = tok
        .withColumn("w1", lag(col("w"), 3).over(wd))
        .withColumn("w2", lag(col("w"), 2).over(wd))
        .withColumn("w3", lag(col("w"), 1).over(wd))
        .withColumn("winstr", concat_ws(" ", col("w1"), col("w2"), col("w3"), col("w")))
        // hash in a codegen'd projection (the shingles discipline)
        .withColumn("cut",
          when(col("pos") >= 3 &&
            pmod(expr(Ql.md5PrefixLong("winstr", 14)), lit(8)) === 0, 1L)
            .otherwise(0L))
        .withColumn("chunk", coalesce(
          sum(col("cut")).over(wd.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      val chunks = cuts.groupBy("doc_id", "chunk")
        .agg(count(lit(1)).as("ntok"),
          expr("array_join(transform(array_sort(collect_list(struct(pos, w))), x -> x.w), ' ')")
            .as("cstr"))
        .select(col("ntok"), expr(Ql.md5PrefixLong("cstr", 14)).as("chash"))
      chunks.groupBy("chash")
        .agg(count(lit(1)).as("copies"), max("ntok").as("ntok"))
        .agg(sum("copies").as("n_chunks"),
          count(lit(1)).as("n_distinct"),
          sum(expr("copies * ntok")).as("total_tokens"),
          sum(expr("(copies - 1) * ntok")).as("dup_tokens"),
          max("copies").as("max_copies"))
        .selectExpr("n_chunks", "n_distinct", "total_tokens", "dup_tokens",
          "max_copies",
          s"${Ql.R("CAST(total_tokens AS DOUBLE) / n_chunks", 4)} AS avg_chunk_tokens",
          s"${Ql.R("CAST(dup_tokens AS DOUBLE) / total_tokens", 4)} AS dup_token_frac")
    },
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      p AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM d),
      c AS (
        SELECT doc_id, i, t[i] AS w,
               CASE WHEN i >= 4 AND
                 (${Ql.Md5PrefixLong("array_to_string(t[i-3:i], ' ')", 14)}) % 8 = 0
               THEN 1 ELSE 0 END AS cut
        FROM p),
      k AS (
        SELECT doc_id, i, w,
               coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
        FROM c),
      ch AS (
        SELECT count(*) AS ntok,
               ${Ql.Md5PrefixLong("string_agg(w, ' ' ORDER BY i)", 14)} AS chash
        FROM k GROUP BY doc_id, chunk),
      g AS (SELECT chash, count(*) AS copies, max(ntok) AS ntok FROM ch GROUP BY 1),
      s AS (
        SELECT CAST(sum(copies) AS BIGINT) AS n_chunks,
               count(*) AS n_distinct,
               CAST(sum(copies * ntok) AS BIGINT) AS total_tokens,
               CAST(sum((copies - 1) * ntok) AS BIGINT) AS dup_tokens,
               CAST(max(copies) AS BIGINT) AS max_copies
        FROM g)
      SELECT n_chunks, n_distinct, total_tokens, dup_tokens, max_copies,
             ${Ql.R("CAST(total_tokens AS DOUBLE) / n_chunks", 4)} AS avg_chunk_tokens,
             ${Ql.R("CAST(dup_tokens AS DOUBLE) / total_tokens", 4)} AS dup_token_frac
      FROM s
    """))

  /** Cross-SOURCE 5-gram overlap matrix — the corpus-composition
    * diagnostic behind mixture design: which pairs of ingest sources are
    * actually serving the same underlying content (mirrors, syndication,
    * scrapes of each other), so their mixture weights double-count. One
    * pass builds the DISTINCT (source, shingle-hash) table; the pair
    * grid is a self-join keyed on the 8-byte shingle hash where each
    * bucket holds at most |sources| rows per side — per-shingle fan-out
    * is bounded by sources², never docs², so no df cap is needed (the
    * shape q_containment needs a cap for at doc granularity). Pairs with
    * zero shared shingles are absent (inner join) in BOTH engines.
    * Reports |A∩B|, containment |A∩B|/min(|A|,|B|), and Jaccard per
    * source pair.
    */
  private val crossSourceOverlap = QueryDef(
    "q_cross_source_overlap",
    (spark, sfDir) => {
      // NOT scattered (r17): the next shuffle keys on (source, h), so a
      // doc_id scatter exchange would not be absorbed — measured no-op
      val sh = Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .select(col("source"), explode(expr(
          "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))")).as("sh0"))
        .select(col("source"), expr(Ql.md5PrefixLong("sh0", 14)).as("h"))
        .distinct()
        .checkpointed // feeds sizes AND both sides of the pair join
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
      sh.select(col("source").as("src_a"), col("h"))
        .join(sh.select(col("source").as("src_b"), col("h")), "h")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
        .selectExpr("src_a", "src_b", "n_a", "n_b", "inter",
          s"${Ql.R("CAST(inter AS DOUBLE) / least(n_a, n_b)", 4)} AS containment",
          s"${Ql.R("CAST(inter AS DOUBLE) / (n_a + n_b - inter)", 4)} AS jaccard")
        .orderBy("src_a", "src_b")
    },
    Some(s"""
      WITH sh AS (
        SELECT DISTINCT source, ${Ql.Md5PrefixLong("sh0", 14)} AS h
        FROM (SELECT source, array_to_string(t[i+1:i+5], ' ') AS sh0
              FROM (SELECT source, t, unnest(generate_series(0, len(t) - 5)) AS i
                    FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
                    WHERE len(t) >= 5))),
      sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
      inter AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, inter,
             ${Ql.R("CAST(inter AS DOUBLE) / least(sa.n, sb.n)", 4)} AS containment,
             ${Ql.R("CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)", 4)} AS jaccard
      FROM inter
        JOIN sizes sa ON sa.source = src_a
        JOIN sizes sb ON sb.source = src_b
      ORDER BY src_a, src_b
    """))

  /** Capture–recapture audit of the LSH detector's blind spot (Chapman's
    * corrected Lincoln–Petersen estimator, classical mark-recapture
    * statistics): run the SAME 4×3 band pipeline TWICE with disjoint
    * slices of the universal hash family (seeds 0–11 vs 12–23) — for a
    * pair at Jaccard s, each run captures it independently with the same
    * probability p(s) = 1−(1−s³)⁴, which is exactly the mark-recapture
    * setting — and estimate the TOTAL candidate-worthy pair population
    * from the two catches and their overlap:
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1. This answers the question
    * q_dedup_recall cannot at 100 TB, where the exact all-pairs truth is
    * uncomputable: "how many near-dup pairs does one LSH run miss?" —
    * run-coverage n/N̂ is the operating estimate of single-run recall
    * over the corpus's ACTUAL similarity profile, not at one nominal
    * Jaccard. Each corpus-sized pipeline runs ONCE into a
    * pair-list-sized checkpoint (the q_dedup_recall discipline);
    * everything downstream is three 1-row aggregates crossed.
    *
    * Known bias: Chapman assumes HOMOGENEOUS capture probability, but
    * under banding p(J) = 1−(1−J³)⁴ varies per pair — on a
    * heterogeneous Jaccard profile the easy (high-J) pairs dominate
    * both catches AND the overlap, so N̂ under-counts the hard low-J
    * tail and n/N̂ OVERSTATES single-run recall. Read it as an upper
    * bound, or stratify: bucket candidate pairs by their measured
    * exact Jaccard (candidateOverlap computes inter/sz1/sz2 for every
    * candidate) and apply Chapman per stratum — within a narrow J
    * bucket p(J) is ~constant and the assumption holds.
    */
  private val captureRecapture: QueryDef = {
    val nhat = "((n_run1 + 1.0) * (n_run2 + 1.0) / (m_both + 1.0) - 1.0)"
    QueryDef(
      "q_capture_recapture",
      (spark, sfDir) => scope {
        val docs = withPlants(spark, sfDir)
        // one explode+hash pass feeds both hash-family runs (r17: each
        // lshBandPairsOf call previously re-ran the corpus explode)
        val hh = shingleHalves(docs).truncated
        val run1 = bandPairsFromWide(minhashSigsWide(hh)).checkpointed
        val run2 = bandPairsFromWide(minhashSigsWide(hh, 12)).checkpointed
        val out = run1.agg(count(lit(1)).as("n_run1"))
          .crossJoin(broadcast(run2.agg(count(lit(1)).as("n_run2"))))
          .crossJoin(broadcast(
            run1.join(run2, Seq("d1", "d2")).agg(count(lit(1)).as("m_both"))))
          .selectExpr("n_run1", "n_run2", "m_both",
            s"${Ql.R(nhat, 2)} AS chapman_n_hat",
            s"${Ql.R(s"n_run1 / $nhat", 4)} AS run1_coverage",
            s"${Ql.R(s"n_run2 / $nhat", 4)} AS run2_coverage")
        out.checkpointed
      },
      Some(s"""
        WITH $lshCandSql,
        ${lshCandSqlNamed("run2_", 12)},
        s AS (
          SELECT (SELECT count(*) FROM cand) AS n_run1,
                 (SELECT count(*) FROM run2_cand) AS n_run2,
                 (SELECT count(*) FROM cand JOIN run2_cand USING (d1, d2)) AS m_both)
        SELECT n_run1, n_run2, m_both,
               ${Ql.R(nhat, 2)} AS chapman_n_hat,
               ${Ql.R(s"n_run1 / $nhat", 4)} AS run1_coverage,
               ${Ql.R(s"n_run2 / $nhat", 4)} AS run2_coverage
        FROM s
      """))
  }

  /** Split-leakage audit: near-duplicate candidate pairs that STRADDLE
    * the train/val/test boundary after the pipeline's deterministic
    * doc_id-hash split — the within-corpus contamination doc-level
    * splitting cannot see (a val doc that is a near-dup of a train doc
    * inflates eval exactly like benchmark contamination; cf. Lee et al.
    * 2022's dedup-before-split finding, public). Composes the SERVED
    * detectors: [[lshBandPairs]] for the candidate surface and
    * [[SamplingQueries.bucketExpr]]'s 80/10/10 assignment — so the
    * leak count measures the actual pipeline's residual risk, not a
    * hypothetical one. Pairs are canonicalized (split_a ≤ split_b
    * lexically) into a ≤6-row matrix with each cell's share of all
    * candidates; `is_leak` marks the off-diagonal cells. Everything
    * after the band join is candidate-sized.
    */
  /** Shared 80/10/10 bucket→split rule (the pipeline's thresholds), one
    * text spliced into both dialects of every split query so the
    * boundaries cannot drift.
    */
  private[operators] def splitCase(bucket: String) =
    s"CASE WHEN ($bucket) < 80 THEN 'train' WHEN ($bucket) < 90 THEN 'val' ELSE 'test' END"

  private val splitLeakage: QueryDef = {
    def splitOf(bucket: String) = splitCase(bucket)
    QueryDef(
      "q_split_leakage",
      (spark, sfDir) => {
        // the expensive candidate pipeline runs ONCE into the <=6-row
        // grouped matrix; the total is a sum over that tiny frame (the
        // q_lsh_bucket_occupancy discipline), never a second pass that
        // leans on exchange reuse
        val g = lshBandPairs(spark, sfDir)
          .withColumn("s1", expr(splitOf(SamplingQueries.bucketExpr("d1"))))
          .withColumn("s2", expr(splitOf(SamplingQueries.bucketExpr("d2"))))
          .withColumn("split_a", least(col("s1"), col("s2")))
          .withColumn("split_b", greatest(col("s1"), col("s2")))
          .groupBy("split_a", "split_b")
          .agg(count(lit(1)).as("n_pairs"))
          .checkpointed
        val tot = g.agg(sum(col("n_pairs")).as("n_total"))
        g.crossJoin(broadcast(tot))
          .selectExpr("split_a", "split_b",
            "CAST(split_a != split_b AS INT) AS is_leak", "n_pairs",
            s"${Ql.R("100.0 * n_pairs / n_total", 4)} AS pct_of_candidates")
          .orderBy("split_a", "split_b")
      },
      Some(s"""
        WITH $lshCandSql,
        sp AS (
          SELECT least(s1, s2) AS split_a, greatest(s1, s2) AS split_b
          FROM (
            SELECT ${splitOf(SamplingQueries.bucketSql("d1"))} AS s1,
                   ${splitOf(SamplingQueries.bucketSql("d2"))} AS s2
            FROM cand)),
        g AS (SELECT split_a, split_b, count(*) AS n_pairs FROM sp GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n_total FROM g)
        SELECT split_a, split_b,
               CAST(split_a != split_b AS INT) AS is_leak, n_pairs,
               ${Ql.R("100.0 * n_pairs / n_total", 4)} AS pct_of_candidates
        FROM g CROSS JOIN tot
        ORDER BY 1, 2
      """))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, public —
    * the MOSS local-similarity scheme): per document, hash every 4-token
    * gram, slide a window of 4 consecutive gram hashes, and keep each
    * window's MINIMUM as a fingerprint. The winnowing guarantee: any
    * shared run of ≥ w+k−1 = 7 tokens yields at least one shared
    * fingerprint, while storage is ~1/w of the gram count — the
    * guaranteed-detection complement to MinHash's probabilistic
    * candidates. Pairs sharing ≥2 rare (df≤100, the module's one rule)
    * fingerprints are reported with their shared counts. Scale shape:
    * per-doc windows (doc_id-partitioned — never a global sort), then
    * the same capped inverted-index join as every other detector here.
    */
  private val dedupWinnowing: QueryDef = QueryDef(
    "q_dedup_winnowing",
    (spark, sfDir) => scope {
      import org.apache.spark.sql.expressions.Window
      // scatter by doc_id: absorbed by the per-doc fingerprint window's
      // own partitioning (same key), so the 4-gram explode + md5 runs
      // 32-way instead of on the single-row-group scan task
      val grams = Tables.scatter(withPlants(spark, sfDir))
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 7) // k + w - 1: shorter docs have no window
        .select(col("doc_id"), (size(col("toks")) - 3).as("g"), posexplode(expr(
          "transform(sequence(0, size(toks) - 4), i -> concat_ws(' ', slice(toks, i + 1, 4)))")))
        .select(col("doc_id"), col("g"), col("pos").as("i"),
          expr(Ql.md5PrefixLong("col", 14)).as("h"))
      val wWin = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
      // truncate: with the scatter exchange absorbed by the window there is
      // no shared gram exchange left for AQE to reuse, and the four
      // consumers (df count, anti join, both self-join sides) would each
      // re-run the explode+window pipeline — truncate the fingerprint table
      // (≈ grams/w rows) so it materializes once, released on return
      val fps = grams
        .withColumn("minh", min(col("h")).over(wWin))
        .filter(col("i") <= col("g") - 4) // complete windows only
        .select(col("doc_id"), col("minh")).distinct()
        .truncated
      val hot = fps.groupBy("minh").agg(count(lit(1)).as("df"))
        .filter(col("df") > 100).select("minh")
      val rare = fps.join(broadcast(hot), Seq("minh"), "left_anti")
      rare.select(col("minh"), col("doc_id").as("d1"))
        .join(rare.select(col("minh"), col("doc_id").as("d2")), "minh")
        .filter(col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("d1", "d2")
        .checkpointed // pair-table-sized; lets the truncation release
    },
    Some(s"""
      WITH grams AS (
        SELECT doc_id, len(t) - 3 AS g, i,
               ${Ql.Md5PrefixLong("array_to_string(t[i + 1 : i + 4], ' ')", 14)} AS h
        FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 4)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $plantsSql)
              WHERE len(t) >= 7)),
      fps AS (
        SELECT DISTINCT doc_id, minh FROM (
          SELECT doc_id, i, g,
                 min(h) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
          FROM grams)
        WHERE i <= g - 4),
      rare AS (
        SELECT doc_id, minh FROM (
          SELECT doc_id, minh, count(*) OVER (PARTITION BY minh) AS df FROM fps)
        WHERE df <= 100)
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
      FROM rare a JOIN rare b ON a.minh = b.minh AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY 1, 2
    """))

  /** Cluster-aware split machinery shared by q_split_safe and
    * q_split_safe_leakage: connected components over the SAME LSH
    * candidate surface q_split_leakage audits ([[lshBandPairs]]), so
    * every candidate pair is same-cluster by construction. Returns
    * (labels(id, lbl), cand(d1, d2)); lbl is the cluster's min doc_id
    * (the CC fixpoint), so its md5 bucket is exactly "the bucket of the
    * cluster's min member". Shuffles size to the candidate graph (the
    * ClusterQueries.clusterLabels discipline — candidate edges are
    * orders of magnitude below corpus size, CC proven at 5M docs); the
    * scaffold's pinned blocks land in the caller's materialization
    * scope.
    */
  private def lshClusters(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val cand = lshBandPairs(spark, sfDir).checkpointed
    (ClusterQueries.clusterLabelsOf(cand), cand)
  }

  /** Oracle twin of [[lshClusters]]' label table: the shared
    * [[ClusterQueries.ccSqlOver]] transitive closure instantiated over
    * the `cand` CTE ([[lshCandSql]]), ending in `labels(id, lbl)`.
    */
  private val lshCcSql = ClusterQueries.ccSqlOver("cand")

  /** The REMEDY q_split_leakage exists to motivate (the Lee et al. 2022
    * dedup-before-split practice, public): assign train/val/test per
    * DUPLICATE CLUSTER, not per doc. Connected components over the SAME
    * LSH candidate surface the audit measures give every doc a cluster
    * label (= the cluster's min doc_id); the split bucket hashes that
    * label, so both endpoints of every near-dup candidate pair land in
    * one split and boundary leakage is structurally zero
    * (q_split_safe_leakage re-runs the audit over this assignment and
    * finds an empty off-diagonal). Singletons — no candidate edge —
    * keep the per-doc hash via coalesce(lbl, doc_id), so the 80/10/10
    * proportions still hold corpus-wide. Reports the per-split profile:
    * docs, clustered docs, clusters, doc share. Scale shape: CC runs on
    * the candidate graph; the corpus-side work is one left join against
    * the candidate-sized label table plus one aggregation.
    */
  private val splitSafe: QueryDef = QueryDef(
    "q_split_safe",
    (spark, sfDir) => scope {
      val (labels, _) = lshClusters(spark, sfDir)
      val assigned = withPlants(spark, sfDir).select("doc_id")
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("split",
          expr(splitCase(SamplingQueries.bucketExpr("coalesce(lbl, doc_id)"))))
      val g = assigned.groupBy("split").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("lbl").isNotNull, 1L).otherwise(0L)).as("n_clustered_docs"),
          countDistinct(col("lbl")).as("n_clusters"))
        .checkpointed // 3-row report; the scope releases the scaffold
      val tot = g.agg(sum(col("n_docs")).as("n_total"))
      g.crossJoin(broadcast(tot))
        .selectExpr("split", "n_docs", "n_clustered_docs", "n_clusters",
          s"${Ql.R("100.0 * n_docs / n_total", 4)} AS doc_pct")
        .orderBy("split")
    },
    Some(s"""
      WITH RECURSIVE $lshCandSql,
      $lshCcSql,
      assigned AS (
        SELECT p.doc_id, l.lbl,
               ${splitCase(SamplingQueries.bucketSql("coalesce(l.lbl, p.doc_id)"))} AS split
        FROM $plantsSql p LEFT JOIN labels l ON l.id = p.doc_id),
      g AS (
        SELECT split, count(*) AS n_docs,
               CAST(sum(CASE WHEN lbl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered_docs,
               count(DISTINCT lbl) AS n_clusters
        FROM assigned GROUP BY 1),
      tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM g)
      SELECT split, n_docs, n_clustered_docs, n_clusters,
             ${Ql.R("100.0 * n_docs / n_total", 4)} AS doc_pct
      FROM g CROSS JOIN tot
      ORDER BY 1
    """))

  /** The audit→remedy closure: q_split_leakage's exact measurement
    * re-run over [[splitSafe]]'s cluster-aware assignment. Both
    * endpoints of every LSH candidate pair share a connected component
    * by construction, hence a bucket, hence a split — so the
    * off-diagonal cells of the split-pair matrix are EMPTY and every
    * reported row carries is_leak = 0 (q_split_leakage's per-doc
    * hashing, by contrast, straddles a fixed ~2·80·10+… share of
    * candidates). Endpoint splits come straight from the label table
    * (every candidate endpoint is clustered by definition), so the
    * whole query past the shared scaffold is candidate-sized.
    */
  private val splitSafeLeakage: QueryDef = QueryDef(
    "q_split_safe_leakage",
    (spark, sfDir) => scope {
      val (labels, cand) = lshClusters(spark, sfDir)
      val lab = labels.withColumn("split",
        expr(splitCase(SamplingQueries.bucketExpr("lbl"))))
      val g = cand
        .join(lab.select(col("id").as("d1"), col("split").as("s1")), "d1")
        .join(lab.select(col("id").as("d2"), col("split").as("s2")), "d2")
        .withColumn("split_a", least(col("s1"), col("s2")))
        .withColumn("split_b", greatest(col("s1"), col("s2")))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"))
        .checkpointed // <=6-row matrix; the scope releases the scaffold
      val tot = g.agg(sum(col("n_pairs")).as("n_total"))
      g.crossJoin(broadcast(tot))
        .selectExpr("split_a", "split_b",
          "CAST(split_a != split_b AS INT) AS is_leak", "n_pairs",
          s"${Ql.R("100.0 * n_pairs / n_total", 4)} AS pct_of_candidates")
        .orderBy("split_a", "split_b")
    },
    Some(s"""
      WITH RECURSIVE $lshCandSql,
      $lshCcSql,
      lab AS (
        SELECT id, ${splitCase(SamplingQueries.bucketSql("lbl"))} AS split
        FROM labels),
      sp AS (
        SELECT least(a1.split, a2.split) AS split_a,
               greatest(a1.split, a2.split) AS split_b
        FROM cand c
          JOIN lab a1 ON a1.id = c.d1
          JOIN lab a2 ON a2.id = c.d2),
      g AS (SELECT split_a, split_b, count(*) AS n_pairs FROM sp GROUP BY 1, 2),
      tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n_total FROM g)
      SELECT split_a, split_b,
             CAST(split_a != split_b AS INT) AS is_leak, n_pairs,
             ${Ql.R("100.0 * n_pairs / n_total", 4)} AS pct_of_candidates
      FROM g CROSS JOIN tot
      ORDER BY 1, 2
    """))

  /** Distributional audit OF the cluster-aware split: grouping whole
    * duplicate clusters into one split (q_split_safe) buys zero leakage
    * — this measures what it costs in balance. Per split: doc count, χ²
    * of the lang and source compositions against the corpus margins
    * (dense expected grids, so an empty observed cell still contributes
    * its (0−e)²/e term), and the worst absolute composition deviation
    * in percentage points. One grouped count touches the corpus;
    * everything after is |splits|×|langs|×|sources|-sized. χ² terms
    * quantize to micro-unit BIGINTs before the fold (doubles over exact
    * integer counts, order-free sum — the q_kneser_ney discipline).
    */
  private val splitBalance: QueryDef = {
    val eTxt = "CAST(n_split AS DOUBLE) * n_m / n_corpus"
    val chiTerm = s"1000000.0 * (o - ($eTxt)) * (o - ($eTxt)) / ($eTxt)"
    val devTxt = "abs(100.0 * o / n_split - 100.0 * n_m / n_corpus)"
    QueryDef(
      "q_split_balance",
      (spark, sfDir) => scope {
        val (labels, _) = lshClusters(spark, sfDir)
        val assigned = Tables.documents(spark, sfDir)
          .select("doc_id", "lang", "source")
          .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .withColumn("split",
            expr(splitCase(SamplingQueries.bucketExpr("coalesce(lbl, doc_id)"))))
        val g = assigned.groupBy("split", "lang", "source")
          .agg(count(lit(1)).as("n"))
          .checkpointed // grid-sized; corpus work ends here
        val tot = g.agg(sum("n").as("n_corpus"))
        val bySplit = g.groupBy("split").agg(sum("n").as("n_split"))
        def chiOf(margin: String): DataFrame = {
          val byM = g.groupBy(margin).agg(sum("n").as("n_m"))
          val obs = g.groupBy("split", margin).agg(sum("n").as("o"))
          bySplit.crossJoin(broadcast(byM))
            .join(obs, Seq("split", margin), "left")
            .na.fill(0L, Seq("o"))
            .crossJoin(broadcast(tot))
            .groupBy("split")
            .agg(
              (sum(expr(s"CAST(${Ql.R(chiTerm, 0)} AS BIGINT)"))
                .cast("double") / lit(1000000.0)).as("chi0"),
              max(expr(devTxt)).as("dev0"))
        }
        val cl = chiOf("lang").select(col("split"),
          col("chi0").as("chi_lang"), col("dev0").as("dev_lang"))
        val cs = chiOf("source").select(col("split"),
          col("chi0").as("chi_source"), col("dev0").as("dev_source"))
        bySplit.join(cl, "split").join(cs, "split")
          .selectExpr("split", "n_split AS n_docs",
            s"${Ql.R("chi_lang", 4)} AS chi2_lang",
            s"${Ql.R("dev_lang", 4)} AS max_lang_dev_pct",
            s"${Ql.R("chi_source", 4)} AS chi2_source",
            s"${Ql.R("dev_source", 4)} AS max_source_dev_pct")
          .orderBy("split")
      },
      Some(s"""
        WITH RECURSIVE $lshCandSql,
        $lshCcSql,
        assigned AS (
          SELECT d.doc_id, d.lang, d.source,
                 ${splitCase(SamplingQueries.bucketSql("coalesce(l.lbl, d.doc_id)"))} AS split
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
        g AS (SELECT split, lang, source, count(*) AS n FROM assigned GROUP BY 1, 2, 3),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_corpus FROM g),
        bysplit AS (SELECT split, CAST(sum(n) AS BIGINT) AS n_split FROM g GROUP BY 1),
        bylang AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_m FROM g GROUP BY 1),
        bysource AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_m FROM g GROUP BY 1),
        ol AS (SELECT split, lang, CAST(sum(n) AS BIGINT) AS o FROM g GROUP BY 1, 2),
        os AS (SELECT split, source, CAST(sum(n) AS BIGINT) AS o FROM g GROUP BY 1, 2),
        chil AS (
          SELECT split,
                 CAST(sum(CAST(${Ql.R(chiTerm, 0)} AS BIGINT)) AS BIGINT) AS chi_u,
                 max($devTxt) AS dev
          FROM (SELECT s.split, s.n_split, m.n_m, coalesce(ol.o, 0) AS o, n_corpus
                FROM bysplit s CROSS JOIN bylang m
                  LEFT JOIN ol ON ol.split = s.split AND ol.lang = m.lang
                  CROSS JOIN tot)
          GROUP BY 1),
        chis AS (
          SELECT split,
                 CAST(sum(CAST(${Ql.R(chiTerm, 0)} AS BIGINT)) AS BIGINT) AS chi_u,
                 max($devTxt) AS dev
          FROM (SELECT s.split, s.n_split, m.n_m, coalesce(os.o, 0) AS o, n_corpus
                FROM bysplit s CROSS JOIN bysource m
                  LEFT JOIN os ON os.split = s.split AND os.source = m.source
                  CROSS JOIN tot)
          GROUP BY 1)
        SELECT s.split, s.n_split AS n_docs,
               ${Ql.R("chil.chi_u / 1000000.0", 4)} AS chi2_lang,
               ${Ql.R("chil.dev", 4)} AS max_lang_dev_pct,
               ${Ql.R("chis.chi_u / 1000000.0", 4)} AS chi2_source,
               ${Ql.R("chis.dev", 4)} AS max_source_dev_pct
        FROM bysplit s
          JOIN chil ON chil.split = s.split
          JOIN chis ON chis.split = s.split
        ORDER BY 1
      """))
  }

  /** Stratified capture–recapture (Sekar & Deming 1949, public): the
    * remedy for [[captureRecapture]]'s documented homogeneity bias,
    * MEASURED instead of caveated. Under banding the capture
    * probability p(J) = 1−(1−J³)⁴ varies per pair, so pooled Chapman
    * under-counts the hard low-J tail; within a narrow Jaccard bucket
    * p(J) is ~constant and the assumption holds. So: score every pair
    * either run catches with its EXACT shingle Jaccard (the
    * candidateOverlap machinery — exact-integer stratum tests, no float
    * thresholding), apply Chapman per stratum, and report the per-
    * stratum estimates plus the stratified total N̂ = Σₛ N̂ₛ — read next
    * to q_capture_recapture's pooled N̂, the gap IS the heterogeneity
    * bias. One corpus shingle pass feeds both hash-family runs and the
    * exact scorer; everything downstream of the checkpointed pair list
    * is a ≤5-row aggregate. The stratified-total row quantizes
    * per-stratum N̂ to integer cents before summing (order-independent
    * fold, the micro-unit discipline).
    */
  private val captureRecaptureStratified: QueryDef = {
    val nhat = "((n_run1 + 1.0) * (n_run2 + 1.0) / (m_both + 1.0) - 1.0)"
    val strat = """CASE WHEN inter * 10 >= 7 * (sz1 + sz2 - inter) THEN 'a_j_ge_070'
                        WHEN inter * 2 >= (sz1 + sz2 - inter) THEN 'b_j_050_070'
                        WHEN inter * 100 >= 35 * (sz1 + sz2 - inter) THEN 'c_j_035_050'
                        ELSE 'd_j_lt_035' END"""
    QueryDef(
      "q_capture_recapture_stratified",
      (spark, sfDir) => scope {
        val docs = withPlants(spark, sfDir)
        // one shingle pass, three consumers (the candidateOverlap
        // discipline): the truncated distinct (doc_id, h1, h2) halves feed
        // the exact scorer (56-bit key by projection — the old shape
        // re-distinct'd a cached string table per side) and both independent
        // hash-family runs (min over the distinct set == min over
        // occurrences)
        val hh = shingleHalves(docs).distinct().truncated
        val (inter, sizes) = shingleIntersections(combinedSh(hh))
        val run1 = bandPairsFromWide(minhashSigsWide(hh))
          .checkpointed
        val run2 = bandPairsFromWide(minhashSigsWide(hh, 12))
          .checkpointed
        val pairs = run1.select(col("d1"), col("d2"), lit(1L).as("in1"))
          .join(run2.select(col("d1"), col("d2"), lit(1L).as("in2")),
            Seq("d1", "d2"), "full_outer")
          .na.fill(0L, Seq("in1", "in2"))
        val scored = pairs.join(inter, Seq("d1", "d2"), "left")
          .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
          .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
          .withColumn("inter", coalesce(col("inter"), lit(0L)))
          .selectExpr(s"$strat AS stratum", "in1", "in2")
          .checkpointed // pair-list-sized; corpus work ends here
        val perh = scored.groupBy("stratum").agg(
          sum("in1").as("n_run1"), sum("in2").as("n_run2"),
          sum(expr("in1 * in2")).as("m_both"))
          .selectExpr("stratum", "n_run1", "n_run2", "m_both",
            s"${Ql.R(nhat, 2)} AS n_hat")
        val per = perh.selectExpr("stratum", "n_run1", "n_run2", "m_both",
          "n_hat", s"${Ql.R("n_run1 / n_hat", 4)} AS run1_coverage")
        val tot = perh.agg(
          sum("n_run1").as("n_run1"), sum("n_run2").as("n_run2"),
          sum("m_both").as("m_both"),
          (sum(expr(s"CAST(${Ql.R("n_hat * 100", 0)} AS BIGINT)"))
            .cast("double") / lit(100.0)).as("n_hat0"))
          .selectExpr("'e_total_stratified' AS stratum",
            "n_run1", "n_run2", "m_both",
            s"${Ql.R("n_hat0", 2)} AS n_hat",
            s"${Ql.R("n_run1 / n_hat0", 4)} AS run1_coverage")
        per.unionByName(tot).orderBy("stratum")
      },
      Some(s"""
        WITH sh AS (
          SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh", 14)} AS sh
          FROM ($shinglesSql)),
        $interCtesSql,
        $lshCandSql,
        ${lshCandSqlNamed("run2_", 12)},
        p1 AS (SELECT d1, d2, CAST(1 AS BIGINT) AS in1 FROM cand),
        p2 AS (SELECT d1, d2, CAST(1 AS BIGINT) AS in2 FROM run2_cand),
        pairs AS (
          SELECT coalesce(p1.d1, p2.d1) AS d1, coalesce(p1.d2, p2.d2) AS d2,
                 coalesce(in1, 0) AS in1, coalesce(in2, 0) AS in2
          FROM p1 FULL JOIN p2 ON p1.d1 = p2.d1 AND p1.d2 = p2.d2),
        scored AS MATERIALIZED (
          SELECT $strat AS stratum, in1, in2
          FROM (SELECT p.in1, p.in2, coalesce(i.inter, 0) AS inter,
                       s1.sz AS sz1, s2.sz AS sz2
                FROM pairs p
                  LEFT JOIN inter i ON i.d1 = p.d1 AND i.d2 = p.d2
                  JOIN sizes s1 ON s1.doc_id = p.d1
                  JOIN sizes s2 ON s2.doc_id = p.d2)),
        per0 AS (
          SELECT stratum, CAST(sum(in1) AS BIGINT) AS n_run1,
                 CAST(sum(in2) AS BIGINT) AS n_run2,
                 CAST(sum(in1 * in2) AS BIGINT) AS m_both
          FROM scored GROUP BY stratum),
        perh AS (
          SELECT stratum, n_run1, n_run2, m_both, ${Ql.R(nhat, 2)} AS n_hat
          FROM per0),
        per AS (
          SELECT stratum, n_run1, n_run2, m_both, n_hat,
                 ${Ql.R("n_run1 / n_hat", 4)} AS run1_coverage
          FROM perh),
        tot AS (
          SELECT 'e_total_stratified' AS stratum,
                 CAST(sum(n_run1) AS BIGINT) AS n_run1,
                 CAST(sum(n_run2) AS BIGINT) AS n_run2,
                 CAST(sum(m_both) AS BIGINT) AS m_both,
                 CAST(sum(CAST(${Ql.R("n_hat * 100", 0)} AS BIGINT)) AS DOUBLE) / 100.0 AS n_hat0
          FROM perh)
        SELECT * FROM per
        UNION ALL
        SELECT stratum, n_run1, n_run2, m_both,
               ${Ql.R("n_hat0", 2)} AS n_hat,
               ${Ql.R("n_run1 / n_hat0", 4)} AS run1_coverage
        FROM tot
        ORDER BY stratum
      """))
  }

  /** Shingle document-frequency profile — the MEASURED justification for
    * this module's one scale rule (drop df>100 shingles before any
    * self-join): per log2-df bucket, how many distinct shingles live
    * there, their instance mass, and — the number that actually sizes the
    * join — their pair work Σ df·(df−1)/2, plus each bucket's share of
    * total pair work. At web scale a handful of boilerplate shingles own
    * essentially all pair work while carrying zero dedup signal; this
    * report is how you pick the cap for YOUR corpus instead of
    * inheriting 100. One distinct-shingle aggregation + a ≤64-row
    * histogram; the share denominator is a 1-row broadcast.
    */
  private val shingleDfProfile = QueryDef(
    "q_shingle_df_profile",
    (spark, sfDir) => {
      val df = shingles(Tables.documents(spark, sfDir).select("doc_id", "text"))
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .withColumn("bkt", expr("CAST(floor(log2(CAST(df AS DOUBLE))) AS BIGINT)"))
      val hist = df.groupBy("bkt")
        .agg(count(lit(1)).as("n_shingles"),
          sum("df").as("instances"),
          sum(expr("df * (df - 1) div 2")).as("pair_work"))
        .checkpointed // <=64 rows; feeds the share total too
      hist.crossJoin(broadcast(hist.agg(sum("pair_work").as("total_pw"))))
        .selectExpr("bkt AS df_log2_bucket", "n_shingles", "instances",
          "pair_work",
          s"${Ql.R("CASE WHEN total_pw > 0 THEN 100.0 * pair_work / total_pw ELSE 0.0 END", 4)} AS pair_work_pct")
        .orderBy("df_log2_bucket")
    },
    Some(s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh0", 14)} AS sh
        FROM (SELECT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS sh0
              FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 3)) AS i
                    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
                    WHERE len(t) >= 3))),
      d AS (
        SELECT sh, count(*) AS df,
               CAST(floor(log2(CAST(count(*) AS DOUBLE))) AS BIGINT) AS bkt
        FROM sh GROUP BY 1),
      hist AS (
        SELECT bkt, count(*) AS n_shingles,
               CAST(sum(df) AS BIGINT) AS instances,
               CAST(sum(df * (df - 1) // 2) AS BIGINT) AS pair_work
        FROM d GROUP BY 1),
      tot AS (SELECT CAST(sum(pair_work) AS BIGINT) AS total_pw FROM hist)
      SELECT bkt AS df_log2_bucket, n_shingles, instances, pair_work,
             ${Ql.R("CASE WHEN total_pw > 0 THEN 100.0 * pair_work / total_pw ELSE 0.0 END", 4)} AS pair_work_pct
      FROM hist, tot ORDER BY df_log2_bucket
    """))

  /** LSH band-bucket occupancy audit — direct evidence that the
    * candidate self-join is bounded: per log2 bucket-size class, how
    * many (band, band_key) buckets there are, the docs they hold, and
    * the candidate pairs Σ c·(c−1)/2 they generate. The whole LSH scale
    * argument is "pairs form only inside buckets and buckets stay
    * small"; this measures the bucket-size distribution that argument
    * rides on (a corpus whose top class suddenly owns the pair mass
    * needs more rows per band or a bucket cap). Signature + band-key
    * stages are the SHARED [[lshBandPairsOf]] machinery; the audit adds
    * one bucket-count aggregation and a ≤64-row histogram.
    */
  private val lshBucketOccupancy = QueryDef(
    "q_lsh_bucket_occupancy",
    (spark, sfDir) => {
      val buckets = bandKeysOf(withPlants(spark, sfDir))
        .groupBy("band", "band_key").agg(count(lit(1)).as("c"))
        .withColumn("bkt", expr("CAST(floor(log2(CAST(c AS DOUBLE))) AS BIGINT)"))
      val hist = buckets.groupBy("bkt")
        .agg(count(lit(1)).as("n_buckets"),
          sum("c").as("docs"),
          sum(expr("c * (c - 1) div 2")).as("cand_pairs"))
        .checkpointed
      hist.crossJoin(broadcast(hist.agg(sum("cand_pairs").as("total_cp"))))
        .selectExpr("bkt AS size_log2_bucket", "n_buckets", "docs", "cand_pairs",
          s"${Ql.R("CASE WHEN total_cp > 0 THEN 100.0 * cand_pairs / total_cp ELSE 0.0 END", 4)} AS cand_pair_pct")
        .orderBy("size_log2_bucket")
    },
    Some(s"""
      WITH $lshCandSql,
      occ AS (
        SELECT band, band_key, count(*) AS c,
               CAST(floor(log2(CAST(count(*) AS DOUBLE))) AS BIGINT) AS bkt
        FROM lbands GROUP BY 1, 2),
      hist AS (
        SELECT bkt, count(*) AS n_buckets, CAST(sum(c) AS BIGINT) AS docs,
               CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_pairs
        FROM occ GROUP BY 1),
      tot AS (SELECT CAST(sum(cand_pairs) AS BIGINT) AS total_cp FROM hist)
      SELECT bkt AS size_log2_bucket, n_buckets, docs, cand_pairs,
             ${Ql.R("CASE WHEN total_cp > 0 THEN 100.0 * cand_pairs / total_cp ELSE 0.0 END", 4)} AS cand_pair_pct
      FROM hist, tot ORDER BY size_log2_bucket
    """))

  /** LSH candidate pairs with their exact shingle-set overlap:
    * (d1, d2, inter, sz1, sz2) — the scored-pair scaffold
    * q_dedup_threshold_sweep and q_lsh_banding_planner share (the same
    * join q_minhash_calibration performs inline). Everything downstream
    * of the band join is candidate-sized. Its truncation and checkpoints land
    * in the caller's materialization scope.
    */
  private[graft] def candidateOverlap(docs: DataFrame): DataFrame = {
    // ONE corpus shingle pass feeds both sides: the truncated distinct
    // (doc_id, h1, h2) halves serve the exact-overlap machinery (56-bit
    // combined key by projection — bijective, so no re-distinct needed;
    // the old shape cached shingle STRINGS and paid a second distinct
    // per side) and the minhash signatures directly — rebuilding
    // shingles per side doubled the dominant explode+distinct of the two
    // heaviest queries (review finding)
    val hh = shingleHalves(docs).distinct().truncated
    val (inter, sizes) = shingleIntersections(combinedSh(hh))
    bandPairsFromWide(minhashSigsWide(hh))
      .join(inter, Seq("d1", "d2"), "left")
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select("d1", "d2", "inter", "sz1", "sz2")
  }

  /** Oracle twin of [[candidateOverlap]] — `pj` CTE, appended after the
    * sh / [[interCtesSql]] / [[lshCandSql]] chain.
    */
  private val candOverlapSql = """pj AS MATERIALIZED (
        SELECT c.d1, c.d2, COALESCE(i.inter, 0) AS inter,
               s1.sz AS sz1, s2.sz AS sz2
        FROM cand c
          LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
          JOIN sizes s1 ON s1.doc_id = c.d1
          JOIN sizes s2 ON s2.doc_id = c.d2)"""

  /** Jaccard-threshold sweep of the served dedup pipeline's DECISIONS
    * (the knob-tuning view of near-dup dedup, cf. Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better",
    * public): for each candidate threshold t ∈ {0.5..0.9}, how many
    * candidate pairs the pipeline would call duplicates, how many
    * documents the keep-lowest-id rule would remove, and the document /
    * token keep rates — the curve a corpus owner reads before picking
    * the production threshold. The dup test is EXACT integer arithmetic
    * (inter·10 ≥ t10·union — no float thresholding anywhere), the sweep
    * runs over the candidate-sized scored-pair table × a 5-row literal
    * grid, and the removed-token accounting joins the (t, doc) removals
    * against per-doc token counts by doc_id — distributed, never
    * collected. Measured over the LSH candidate set, i.e. the decisions
    * the SERVED pipeline would actually make (sub-LSH-recall pairs are
    * out of scope by construction, as in production).
    */
  private val thresholdSweep = QueryDef(
    "q_dedup_threshold_sweep",
    (spark, sfDir) => scope {
      val docs = withPlants(spark, sfDir)
      val pj = candidateOverlap(docs).checkpointed
      val tokLen = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tl"))
      val totals = tokLen.agg(count(lit(1)).as("n_docs"),
        sum("tl").as("n_tokens"))
      val sweep = pj
        .select(col("d1"), col("d2"), col("inter"), col("sz1"), col("sz2"),
          explode(expr("array(5L, 6L, 7L, 8L, 9L)")).as("t10"))
        .filter(col("inter") * 10 >=
          col("t10") * (col("sz1") + col("sz2") - col("inter")))
        .checkpointed // candidate-sized × 5
      val pairsPerT = sweep.groupBy("t10").agg(count(lit(1)).as("n_dup_pairs"))
      val removedTok = sweep.select("t10", "d2").distinct()
        .join(tokLen, col("d2") === col("doc_id"))
        .groupBy("t10")
        .agg(count(lit(1)).as("n_docs_removed"),
          sum("tl").as("tokens_removed"))
      val out = spark.range(1)
        .select(explode(expr("array(5L, 6L, 7L, 8L, 9L)")).as("t10"))
        .join(pairsPerT, Seq("t10"), "left")
        .join(removedTok, Seq("t10"), "left")
        .crossJoin(broadcast(totals))
        .selectExpr("CAST(t10 AS DOUBLE) / 10 AS threshold",
          "CAST(coalesce(n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs",
          "CAST(coalesce(n_docs_removed, 0) AS BIGINT) AS n_docs_removed",
          "n_docs",
          s"${Ql.R("1.0 - CAST(coalesce(n_docs_removed, 0) AS DOUBLE) / n_docs", 6)} AS doc_keep_rate",
          "CAST(coalesce(tokens_removed, 0) AS BIGINT) AS tokens_removed",
          s"${Ql.R("1.0 - CAST(coalesce(tokens_removed, 0) AS DOUBLE) / n_tokens", 6)} AS token_keep_rate")
        .orderBy("threshold")
      out.checkpointed
    },
    Some(s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh", 14)} AS sh
        FROM ($shinglesSql)),
      $interCtesSql,
      $lshCandSql,
      $candOverlapSql,
      tok AS MATERIALIZED (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tl
        FROM $plantsSql),
      totals AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tl) AS BIGINT) AS n_tokens
        FROM tok),
      grid AS (SELECT CAST(unnest([5, 6, 7, 8, 9]) AS BIGINT) AS t10),
      sweep AS MATERIALIZED (
        SELECT g.t10, p.d1, p.d2
        FROM pj p JOIN grid g
          ON p.inter * 10 >= g.t10 * (p.sz1 + p.sz2 - p.inter)),
      ppt AS (SELECT t10, count(*) AS n_dup_pairs FROM sweep GROUP BY 1),
      rt AS (
        SELECT r.t10, count(*) AS n_docs_removed,
               CAST(sum(t.tl) AS BIGINT) AS tokens_removed
        FROM (SELECT DISTINCT t10, d2 FROM sweep) r
        JOIN tok t ON r.d2 = t.doc_id
        GROUP BY 1)
      SELECT CAST(g.t10 AS DOUBLE) / 10 AS threshold,
             CAST(coalesce(ppt.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
             CAST(coalesce(rt.n_docs_removed, 0) AS BIGINT) AS n_docs_removed,
             totals.n_docs,
             ${Ql.R("1.0 - CAST(coalesce(rt.n_docs_removed, 0) AS DOUBLE) / totals.n_docs", 6)} AS doc_keep_rate,
             CAST(coalesce(rt.tokens_removed, 0) AS BIGINT) AS tokens_removed,
             ${Ql.R("1.0 - CAST(coalesce(rt.tokens_removed, 0) AS DOUBLE) / totals.n_tokens", 6)} AS token_keep_rate
      FROM grid g
      LEFT JOIN ppt ON g.t10 = ppt.t10
      LEFT JOIN rt ON g.t10 = rt.t10
      CROSS JOIN totals
      ORDER BY threshold
    """))

  /** LSH banding planner: for every (bands b × rows r) layout of the
    * 12-hash signature budget, the S-curve detect probability
    * P(candidate | J) = 1 − (1 − Jʳ)ᵇ (Leskovec–Rajaraman–Ullman,
    * Mining of Massive Datasets ch. 3, public) EVALUATED OVER THE
    * MEASURED candidate-pair Jaccard profile — expected true-dup recall
    * (J ≥ 0.6) and expected candidate volume per layout, next to each
    * layout's analytic 50%-crossover similarity (1/b)^(1/r). This is
    * the table that justifies the served 4×3 choice with data instead
    * of folklore, and re-runs cheaply whenever the corpus's similarity
    * profile drifts. Determinism: Jʳ and (1−Jʳ)ᵇ are LITERAL
    * multiplication chains generated per layout (no libm pow — fact
    * #30), per-pair detect probabilities become exact BIGINT micro-units
    * before summation (order-independent), and the crossover constants
    * are Scala-precomputed literals spliced into both dialects. One
    * candidate-sized scan computes all six layouts' sums as aggregate
    * columns, then unpivots.
    */
  private val bandingConfigs = Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6), (1, 12))

  private def bandingDetectSql(b: Int, r: Int): String = {
    def chain(v: String, n: Int) = List.fill(n)(v).mkString(" * ")
    val q = s"(1e0 - (${chain("j", r)}))"
    s"(1e0 - (${chain(q, b)}))"
  }

  private def bandingJ50(b: Int, r: Int): String =
    "%.6f".formatLocal(java.util.Locale.ROOT, math.pow(1.0 / b, 1.0 / r))

  private val bandingPlanner = QueryDef(
    "q_lsh_banding_planner",
    (spark, sfDir) => scope {
      val pj = candidateOverlap(withPlants(spark, sfDir))
      val scored = pj.selectExpr(
        s"${Ql.R("CAST(inter AS DOUBLE) / (sz1 + sz2 - inter)", 4)} AS j",
        "CAST(inter * 10 >= 6 * (sz1 + sz2 - inter) AS BIGINT) AS dup")
      val puCols = bandingConfigs.flatMap { case (b, r) =>
        val pu = s"CAST(${Ql.R(s"${bandingDetectSql(b, r)} * 1000000", 0)} AS BIGINT)"
        Seq(s"sum($pu) AS sp_${b}_$r",
          s"sum(CASE WHEN dup = 1 THEN $pu ELSE 0 END) AS spd_${b}_$r")
      }
      val aggCols = Seq(expr("count(*) AS n_pairs"),
        expr("sum(dup) AS n_dups")) ++ puCols.map(expr)
      val agg1 = scored.agg(aggCols.head, aggCols.tail: _*)
      val stackArgs = bandingConfigs
        .map { case (b, r) => s"$b, $r, sp_${b}_$r, spd_${b}_$r" }
        .mkString(", ")
      val j50Case = "CASE " + bandingConfigs.map { case (b, r) =>
        s"WHEN bands = $b THEN ${bandingJ50(b, r)}e0"
      }.mkString(" ") + " END"
      val out = agg1.selectExpr("n_pairs", "n_dups",
          s"stack(${bandingConfigs.size}, $stackArgs) AS (bands, rows_per_band, sp, spd)")
        .selectExpr("CAST(bands AS INT) AS bands",
          "CAST(rows_per_band AS INT) AS rows_per_band",
          s"$j50Case AS j50",
          "n_pairs", "n_dups",
          s"${Ql.R("sp / 1e6", 2)} AS exp_candidate_pairs",
          s"CASE WHEN n_dups = 0 THEN 0e0 ELSE ${Ql.R("spd / 1e6 / n_dups", 6)} END AS exp_dup_recall")
        .orderBy(col("bands").desc)
      out.checkpointed
    },
    Some {
      val cfgSelects = bandingConfigs.map { case (b, r) =>
        s"""SELECT $b AS bands, $r AS rows_per_band,
                   ${bandingJ50(b, r)}e0 AS j50,
                   n_pairs, n_dups, sp_${b}_$r AS sp, spd_${b}_$r AS spd
            FROM agg1"""
      }.mkString("\n        UNION ALL\n        ")
      val puCols = bandingConfigs.flatMap { case (b, r) =>
        val pu = s"CAST(${Ql.R(s"${bandingDetectSql(b, r)} * 1000000", 0)} AS BIGINT)"
        Seq(s"CAST(sum($pu) AS BIGINT) AS sp_${b}_$r",
          s"CAST(sum(CASE WHEN dup = 1 THEN $pu ELSE 0 END) AS BIGINT) AS spd_${b}_$r")
      }.mkString(",\n               ")
      s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh", 14)} AS sh
        FROM ($shinglesSql)),
      $interCtesSql,
      $lshCandSql,
      $candOverlapSql,
      scored AS (
        SELECT ${Ql.R("CAST(inter AS DOUBLE) / (sz1 + sz2 - inter)", 4)} AS j,
               CAST(inter * 10 >= 6 * (sz1 + sz2 - inter) AS BIGINT) AS dup
        FROM pj),
      agg1 AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(dup) AS BIGINT) AS n_dups,
               $puCols
        FROM scored),
      cfg AS (
        $cfgSelects)
      SELECT bands, rows_per_band, j50, n_pairs, n_dups,
             ${Ql.R("sp / 1e6", 2)} AS exp_candidate_pairs,
             CASE WHEN n_dups = 0 THEN 0e0
                  ELSE ${Ql.R("spd / 1e6 / n_dups", 6)} END AS exp_dup_recall
      FROM cfg
      ORDER BY bands DESC
    """
    })

  /** I1-aud: normalization-sensitivity audit of exact dedup — how many
    * byte-distinct documents COLLAPSE under each canonicalization level
    * (raw sha256 / lowercase / lowercase + whitespace-collapse + trim),
    * the measured basis for choosing the hash key production dedup
    * pipelines normalize before hashing (Dolma/CCNet practice: a crawl
    * re-serves the same page with case or spacing jitter, and a raw-byte
    * key silently keeps every variant). Planted truth: case-jittered
    * copies of doc_id<10 (id+200000, uppercased) are raw-unique but
    * lower-dups; spacing-jittered copies of doc_id in [10,20)
    * (id+300000, doubled separators) survive lowercasing but collapse
    * under whitespace normalization — so the three levels MUST differ by
    * exactly the plant counts per lang. One pass, three codegen'd hash
    * projections, one keyed aggregate; shuffle rows are per-lang counts.
    */
  private val dedupNormSensitivity = QueryDef(
    "q_dedup_norm_sensitivity",
    (spark, sfDir) => {
      val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text"))
      val planted = d
        .unionByName(d.filter(col("doc_id") < 10).select(
          (col("doc_id") + 200000).as("doc_id"), col("lang"),
          upper(col("text")).as("text")))
        .unionByName(d.filter(col("doc_id") >= 10 && col("doc_id") < 20).select(
          (col("doc_id") + 300000).as("doc_id"), col("lang"),
          regexp_replace(col("text"), " ", "  ").as("text")))
      planted
        .withColumn("h_raw", sha2(col("text").cast("binary"), 256))
        .withColumn("h_lower", sha2(lower(col("text")).cast("binary"), 256))
        // explicit whitespace class, NOT \s: Java's \s includes \x0B
        // (vertical tab) while DuckDB/RE2's does not — a latent
        // cross-engine divergence on exactly the jitter this audit keys on
        .withColumn("h_norm", sha2(
          trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r]+", " ")).cast("binary"), 256))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("h_raw")).as("uniq_raw"),
          countDistinct(col("h_lower")).as("uniq_lower"),
          countDistinct(col("h_norm")).as("uniq_norm"),
          (countDistinct(col("h_raw")) - countDistinct(col("h_lower")))
            .as("case_only_dups"),
          (countDistinct(col("h_lower")) - countDistinct(col("h_norm")))
            .as("space_only_dups"))
        .orderBy("lang")
    },
    Some(s"""
      WITH planted AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, lang, upper(text) FROM documents WHERE doc_id < 10
        UNION ALL
        SELECT doc_id + 300000, lang, regexp_replace(text, ' ', '  ', 'g')
        FROM documents WHERE doc_id >= 10 AND doc_id < 20),
      hashed AS (
        SELECT lang,
               sha256(text) AS h_raw,
               sha256(lower(text)) AS h_lower,
               sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\r]+', ' ', 'g'))) AS h_norm
        FROM planted)
      SELECT lang, count(*) AS n_docs,
             count(DISTINCT h_raw) AS uniq_raw,
             count(DISTINCT h_lower) AS uniq_lower,
             count(DISTINCT h_norm) AS uniq_norm,
             count(DISTINCT h_raw) - count(DISTINCT h_lower) AS case_only_dups,
             count(DISTINCT h_lower) - count(DISTINCT h_norm) AS space_only_dups
      FROM hashed GROUP BY 1 ORDER BY 1
    """))

  /** I2-band: per-BAND contribution audit of the served 4×3 banding —
    * for each band: buckets holding ≥2 docs, candidate pairs it finds,
    * and pairs ONLY it finds. High unique-pair shares mean the bands are
    * complementary (each samples a different shingle subspace — the
    * redundancy you pay 4× bucket state for is buying recall); near-zero
    * unique shares mean fewer bands would find the same candidates for
    * less state — the direct measurement behind q_lsh_banding_planner's
    * model-based expectations. Rides [[bandKeysOf]], so the audited
    * banding is the served one. All joins are bucket/pair-keyed. The
    * pair join here deliberately KEEPS the band column (deduping per
    * band, not globally), so it is NOT [[candPairsSqlOver]] /
    * [[bandPairsFromWide]] — the per-band attribution is the query's
    * subject; the served global-pair rule stays the factored one.
    */
  private val lshBandContribution = QueryDef(
    "q_lsh_band_contribution",
    (spark, sfDir) => {
      val bands = bandKeysOf(withPlants(spark, sfDir))
        // feeds the pair self-join AND the bucket-occupancy aggregate
        .checkpointed
      val pb = bands.select(col("band"), col("band_key"), col("doc_id").as("d1"))
        .join(bands.select(col("band"), col("band_key"), col("doc_id").as("d2")),
          Seq("band", "band_key"))
        .filter(col("d1") < col("d2"))
        .select("band", "d1", "d2").distinct()
        // feeds the per-pair band count AND the per-band tally
        .checkpointed
      val perPair = pb.groupBy("d1", "d2").agg(count(lit(1)).as("nb"))
      val mb = bands.groupBy("band", "band_key").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .groupBy("band").agg(count(lit(1)).as("n_multi_buckets"))
      pb.join(perPair, Seq("d1", "d2"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("nb") === 1).cast("long")).as("n_unique_pairs"))
        .join(mb, "band")
        .withColumn("unique_share_pct",
          Ql.r(col("n_unique_pairs") * lit(100.0) / col("n_pairs"), 4))
        // band is INT in bandKeysOf; the oracle's seed // 3 is BIGINT
        .select(col("band").cast("long").as("band"), col("n_multi_buckets"),
          col("n_pairs"), col("n_unique_pairs"), col("unique_share_pct"))
        .orderBy("band")
    },
    Some(s"""
      WITH src AS (SELECT doc_id, text FROM $plantsSql),
      ${bandKeysSqlOver("src", "")},
      pb AS (
        SELECT DISTINCT a.band, a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      per_pair AS (SELECT d1, d2, count(*) AS nb FROM pb GROUP BY 1, 2),
      mb AS (
        SELECT band, count(*) AS n_multi_buckets
        FROM (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING count(*) >= 2)
        GROUP BY 1)
      SELECT pb.band, CAST(any_value(mb.n_multi_buckets) AS BIGINT) AS n_multi_buckets,
             count(*) AS n_pairs,
             CAST(sum(CASE WHEN nb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_pairs,
             ${Ql.R("sum(CASE WHEN nb = 1 THEN 1 ELSE 0 END) * 100.0 / count(*)", 4)} AS unique_share_pct
      FROM pb JOIN per_pair USING (d1, d2) JOIN mb USING (band)
      GROUP BY 1 ORDER BY 1
    """))

  /** NEAR-DUP train/test contamination (the fuzzy complement of
    * q_contamination's exact n-gram audit — the published eval-hygiene
    * practice when test items are paraphrased or lightly edited rather
    * than copied verbatim): candidate pairs come from the SERVED LSH
    * banding over the whole corpus, kept only where the two ends fall on
    * opposite sides of the 90/10 md5 split, then verified by exact
    * df≤100-capped 3-shingle Jaccard CONFINED to those candidates
    * (integer rule 3·inter ≥ sz1+sz2 ⇔ J ≥ 0.5 — no float threshold).
    * Plants: train-side docs <50 whose first-token-edited copy at
    * +400000 hash-buckets into the TEST split — guaranteed cross-split
    * near-dups, membership a pure function of ids so both engines agree.
    * Per test-doc lang: test docs, docs with any cross-split candidate,
    * confirmed near-dup-contaminated docs, and the max Jaccard. Scale
    * shape: banding is sparse (never all-pairs), the exact scorer rides
    * the candidate-sized pair table, the split check is two bucket-map
    * joins.
    */
  private val contamNeardup = QueryDef(
    "q_contam_neardup",
    (spark, sfDir) => scope {
      // candidateOverlap truncates its shingle table and the corpus is
      // checkpointed — materialize the |langs|-row report; the scope
      // then releases every block this query pinned (the rule all
      // candidateOverlap callers follow)
      val raw = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("text"))
      val base = raw
        .select(guardedPlantBase(col("doc_id")).as("doc_id"), col("lang"), col("text"))
      val plants = raw.filter(col("doc_id") < 50)
        .filter(expr(SamplingQueries.bucketExpr("doc_id")) < 90)
        .select((col("doc_id") + 400000).as("doc_id"), col("lang"),
          regexp_replace(col("text"), "^\\S+", "qqq").as("text"))
        .filter(expr(SamplingQueries.bucketExpr("doc_id")) >= 90)
      // scatter BEFORE the checkpoint: the union-of-scans is 1-file
      // skewed (single row group per file), and the checkpointed layout
      // is what every downstream fan-out inherits
      val corpus = Tables.scatter(base.unionByName(plants)).checkpointed
      val pj = candidateOverlap(corpus.select(col("doc_id"), col("text")))
      val buck = corpus.select(col("doc_id"),
        expr(SamplingQueries.bucketExpr("doc_id")).as("b"))
      val cross = pj
        .join(buck.select(col("doc_id").as("d1"), col("b").as("b1")), "d1")
        .join(buck.select(col("doc_id").as("d2"), col("b").as("b2")), "d2")
        .filter((col("b1") >= 90) =!= (col("b2") >= 90))
        .withColumn("test_doc",
          when(col("b1") >= 90, col("d1")).otherwise(col("d2")))
      val scored = cross.groupBy("test_doc")
        .agg(
          max(when(lit(3) * col("inter") >= col("sz1") + col("sz2"), 1)
            .otherwise(0)).as("confirmed"),
          max(col("inter") / (col("sz1") + col("sz2") - col("inter"))).as("jac"))
      val out = corpus.join(buck, "doc_id").filter(col("b") >= 90)
        .select(col("doc_id"), col("lang"))
        .join(scored, col("doc_id") === col("test_doc"), "left")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_test"),
          count(col("test_doc")).as("n_cand"),
          sum(coalesce(col("confirmed"), lit(0)).cast("long")).as("n_confirmed"),
          Ql.r(max(coalesce(col("jac"), lit(0.0))), 4).as("max_jac"))
      val report = out.checkpointed
      report.orderBy("lang")
    },
    Some(s"""
      WITH nc AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + 400000, lang, regexp_replace(text, '^\\S+', 'qqq')
        FROM documents
        WHERE doc_id < 50 AND ${SamplingQueries.bucketSql("doc_id")} < 90
          AND ${SamplingQueries.bucketSql("doc_id + 400000")} >= 90),
      ${bandKeysSqlOver("nc", "c")},
      ${candPairsSqlOver("cbands", "")},
      sh AS (SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh", 14)} AS sh FROM csh),
      $interCtesSql,
      pj AS (
        SELECT c.d1, c.d2, COALESCE(i.inter, 0) AS inter, s1.sz AS sz1, s2.sz AS sz2
        FROM cand c
          LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
          JOIN sizes s1 ON s1.doc_id = c.d1
          JOIN sizes s2 ON s2.doc_id = c.d2),
      bkt AS (SELECT doc_id, lang, ${SamplingQueries.bucketSql("doc_id")} AS b FROM nc),
      cross_pairs AS (
        SELECT CASE WHEN x1.b >= 90 THEN p.d1 ELSE p.d2 END AS test_doc,
               p.inter, p.sz1, p.sz2
        FROM pj p
          JOIN bkt x1 ON x1.doc_id = p.d1
          JOIN bkt x2 ON x2.doc_id = p.d2
        WHERE (x1.b >= 90) <> (x2.b >= 90)),
      scored AS (
        SELECT test_doc,
               max(CASE WHEN 3 * inter >= sz1 + sz2 THEN 1 ELSE 0 END) AS confirmed,
               max(inter * 1.0 / (sz1 + sz2 - inter)) AS jac
        FROM cross_pairs GROUP BY 1)
      SELECT t.lang, count(*) AS n_test,
             CAST(count(s.test_doc) AS BIGINT) AS n_cand,
             CAST(sum(COALESCE(s.confirmed, 0)) AS BIGINT) AS n_confirmed,
             ${Ql.R("max(COALESCE(s.jac, 0))", 4)} AS max_jac
      FROM (SELECT doc_id, lang FROM bkt WHERE b >= 90) t
        LEFT JOIN scored s ON s.test_doc = t.doc_id
      GROUP BY 1 ORDER BY 1
    """))

  override def defs: Seq[QueryDef] = Seq(
    dedupNormSensitivity, lshBandContribution,
    dedupExact, dedupMinhash, dedupSimhash, dedupSimhashPairs,
    dedupNgramJaccard, dedupEmbed, fuzzyJoin, containment, sortedNeighborhood,
    dedupRecall, ngramNovelty, minhashCalibration, cdcChunkDedup,
    crossSourceOverlap, captureRecapture, captureRecaptureStratified,
    splitLeakage, splitSafe, splitSafeLeakage, splitBalance, dedupWinnowing,
    shingleDfProfile, contamNeardup,
    lshBucketOccupancy, thresholdSweep, bandingPlanner)
}
