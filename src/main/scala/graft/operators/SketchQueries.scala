package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Mergeable-summary patterns beyond the HLL sketch family
  * (AggQueries.aggHllMerge): count-min frequency sketches, Bloom-filter
  * membership, and algebraic partial-aggregate merge. These are the
  * summaries a 100 TB pipeline maintains per partition/day so that
  * rollups and probes never re-scan raw data — each one here is built
  * per-day, merged relationally, and checked against the exact answer.
  *
  * All three are DETERMINISTIC cross-engine (the hash family is the
  * repo-standard md5 prefix, [[Ql.md5PrefixLong]]), so unlike the
  * DataSketches HLL query the DuckDB oracles hash-match the estimates
  * themselves, not just an error-contract flag.
  */
object SketchQueries extends QueryModule {

  /** D4c: count-min sketch (Cormode & Muthukrishnan 2005, public) as a
    * RELATION — `(r, p) -> counter` for d=4 hash rows × w=512 buckets —
    * built per day and merged by counter addition (CMS is linear, so
    * sketch union IS a groupBy-sum; same merge algebra the driver's
    * 100 TB rollups need: daily sketches are ~KB, any range rollup is a
    * 2048-row aggregation, and a frequency probe never touches raw data).
    * Probed for the deterministic candidate set `user_id % 10 = 0` and
    * checked against exact counts: `est >= exact` always (one-sided
    * error), and the overcount is itself deterministic, so the oracle
    * hash-matches the estimates exactly.
    *
    * The oracle builds the sketch WITHOUT the daily level — integer
    * counter adds are exact, so merged-daily ≡ direct is part of what the
    * hash match proves.
    */
  private val cmsHeavy = QueryDef(
    "q_cms_heavy",
    (spark, sfDir) => {
      val d = 4
      val w = 512
      val posOf = Ql.md5PrefixLong(
        "concat(cast(r AS STRING), ':', cast(user_id AS STRING))", 14)
      val e = Tables.events(spark, sfDir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      // every event lands in d counters: explode the hash-row index, one
      // shuffle keyed on (day, r, p) — partial (map-side) aggregation does
      // the heavy lifting; the sketch relation is d*w rows per day
      val daily = e
        .select(col("day"), col("user_id"), explode(expr(s"sequence(0, ${d - 1})")).as("r"))
        .select(col("day"), col("r"), (expr(posOf) % w).as("p"))
        .groupBy("day", "r", "p").agg(count(lit(1)).as("c"))
      // sketch merge = counter addition (linearity); result is tiny
      val merged = daily.groupBy("r", "p").agg(sum(col("c")).as("c"))
      val cand = e.filter(col("user_id") % 10 === 0)
        .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      val cpos = cand.select(col("user_id"))
        .select(col("user_id"), explode(expr(s"sequence(0, ${d - 1})")).as("r"))
        .select(col("user_id"), col("r"), (expr(posOf) % w).as("p"))
      val est = cpos.join(broadcast(merged), Seq("r", "p"))
        .groupBy("user_id").agg(min(col("c")).as("est_n"))
      cand.join(est, "user_id")
        .select(col("user_id"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("overcount"))
        .orderBy("user_id")
    },
    Some {
      val posOf = Ql.Md5PrefixLong("r::VARCHAR || ':' || user_id::VARCHAR", 14)
      s"""
      WITH e AS (SELECT user_id FROM events),
      pos AS (
        SELECT user_id, r, $posOf % 512 AS p
        FROM (SELECT user_id, unnest(generate_series(0, 3)) AS r FROM e)),
      sk AS (SELECT r, p, count(*) AS c FROM pos GROUP BY 1, 2),
      cand AS (SELECT user_id, count(*) AS exact_n FROM e
               WHERE user_id % 10 = 0 GROUP BY 1),
      cpos AS (
        SELECT DISTINCT user_id, r, $posOf % 512 AS p
        FROM cand, (SELECT unnest(generate_series(0, 3)) AS r)),
      est AS (SELECT user_id, min(c) AS est_n
              FROM cpos JOIN sk USING (r, p) GROUP BY 1)
      SELECT c.user_id, c.exact_n, e.est_n, e.est_n - c.exact_n AS overcount
      FROM cand c JOIN est e USING (user_id) ORDER BY user_id
    """
    })

  /** I-leak-b: Bloom-filter decontamination — the tiny-broadcast twin of
    * `q_contamination`'s exact inverted-index join. The train side folds
    * its 5-gram positions (k=3 salted md5 hashes into m=2^22 bits) into a
    * `(word -> 32-bit mask)` bitmap relation of at most m/32 = 131 k
    * rows (~2 MB — broadcast scale); the probe side is then a BROADCAST
    * join against that bitmap instead of a shuffle join against the full
    * train shingle set — the trade a 100 TB decontamination pass wants.
    * m is a per-corpus capacity constant (FP rate (1-e^{-kn/m})^k; at
    * sf0.1's ~800 k positions the fill is ~17 % ⇒ FPR ≈ 0.5 %, asserted
    * < 10 % in SketchSpec); false negatives are impossible at ANY fill,
    * which the `no_false_neg` column proves per doc against the exact
    * join.
    *
    * Bits live in the low 32 of a BIGINT word (shift <= 31) so the mask
    * arithmetic stays sign-free in both engines.
    */
  private val bloomDecontam = QueryDef(
    "q_bloom_decontam",
    (spark, sfDir) => scope {
      val k = 3
      val m = 1 << 22
      val posOf = Ql.md5PrefixLong("concat(cast(salt AS STRING), ':', sh0)", 14)
      // scatter: the 5-gram explode plus FOUR md5s per occurrence (gh +
      // 3 salted positions) otherwise runs on the single-row-group scan's
      // one task; the truncation right below materializes whatever partitioning
      // the exchange gives, so the fan-out runs 32-way (guide §2.5)
      val grams = graft.Tables.scatter(Tables.documents(spark, sfDir))
        .withColumn("b", expr(SamplingQueries.bucketExpr("doc_id")))
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), col("b"),
          explode(expr(
            "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))"))
            .as("sh0"))
        // gram identity for the exact check: the repo-standard 56-bit key
        .withColumn("gh", expr(Ql.md5PrefixLong("sh0", 14)))
      // k salted positions per gram; both split sides reuse this frame
      val pos = grams
        .select(col("doc_id"), col("b"), col("gh"),
          explode(expr(s"sequence(0, ${k - 1})")).as("salt"), col("sh0"))
        .select(col("doc_id"), col("b"), col("gh"),
          (expr(posOf) % m).as("p"))
        .select(col("doc_id"), col("b"), col("gh"),
          (col("p") / 32).cast("long").as("word"), (col("p") % 32).cast("int").as("bit"))
        .truncated
      val bitmap = pos.filter(col("b") < 90)
        .select("word", "bit").distinct()
        .groupBy("word").agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bits"))
      val trainGh = pos.filter(col("b") < 90).select("gh").distinct()
      val probe = pos.filter(col("b") >= 90)
        .join(broadcast(bitmap), Seq("word"), "left")
        .withColumn("hit",
          (coalesce(col("bits"), lit(0L))
            .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), bit)")) =!= 0L).cast("int"))
        .groupBy("doc_id", "gh").agg(min(col("hit")).as("bloom_hit"))
      val exact = pos.filter(col("b") >= 90).select("doc_id", "gh").distinct()
        .join(trainGh, Seq("gh"), "leftsemi")
        .withColumn("exact_hit", lit(1))
      // materialize the tiny per-doc report; the scope drops the
      // position truncation after that (dropping it before the first
      // action would throw it away unused and recompute pos once per
      // consumer)
      val out = probe.join(exact, Seq("doc_id", "gh"), "left")
        .withColumn("exact_hit", coalesce(col("exact_hit"), lit(0)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(col("bloom_hit")).cast("long").as("n_bloom_hit"),
          sum(col("exact_hit")).cast("long").as("n_exact_hit"),
          min((col("bloom_hit") >= col("exact_hit")).cast("int")).as("no_false_neg"))
        .checkpointed
      out.orderBy("doc_id")
    },
    Some {
      // NB: the salt column must NOT be named `j` — Md5PrefixLong's fold
      // lambda variable is `j` and would shadow it inside list_transform.
      val posOf = Ql.Md5PrefixLong("salt::VARCHAR || ':' || sh0", 14)
      val ghOf = Ql.Md5PrefixLong("sh0", 14)
      s"""
      WITH grams AS (
        SELECT doc_id, ${Ql.Md5PrefixLong("CAST(doc_id AS VARCHAR)", 4)} % 100 AS b,
               array_to_string(t[i + 1 : i + 5], ' ') AS sh0
        FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
              WHERE len(t) >= 5)),
      pos AS (
        SELECT doc_id, b, gh,
               p // 32 AS word, CAST(p % 32 AS INTEGER) AS bit
        FROM (SELECT doc_id, b, $ghOf AS gh, $posOf % 4194304 AS p
              FROM (SELECT doc_id, b, sh0, unnest(generate_series(0, 2)) AS salt
                    FROM grams))),
      bitmap AS (
        SELECT word, bit_or(1::BIGINT << bit) AS bits
        FROM (SELECT DISTINCT word, bit FROM pos WHERE b < 90) GROUP BY 1),
      train_gh AS (SELECT DISTINCT gh FROM pos WHERE b < 90),
      probe AS (
        SELECT doc_id, gh,
               min(CASE WHEN (coalesce(bits, 0) & (1::BIGINT << bit)) <> 0
                   THEN 1 ELSE 0 END) AS bloom_hit
        FROM pos LEFT JOIN bitmap USING (word)
        WHERE b >= 90 GROUP BY 1, 2),
      exact AS (
        SELECT DISTINCT p.doc_id, p.gh, 1 AS exact_hit
        FROM pos p JOIN train_gh t ON p.gh = t.gh WHERE p.b >= 90)
      SELECT p.doc_id, count(*) AS n_grams,
             CAST(sum(p.bloom_hit) AS BIGINT) AS n_bloom_hit,
             CAST(sum(coalesce(e.exact_hit, 0)) AS BIGINT) AS n_exact_hit,
             min(CASE WHEN p.bloom_hit >= coalesce(e.exact_hit, 0)
                 THEN 1 ELSE 0 END) AS no_false_neg
      FROM probe p LEFT JOIN exact e ON p.doc_id = e.doc_id AND p.gh = e.gh
      GROUP BY 1 ORDER BY 1
    """
    })

  /** D-merge: incremental (materialized-view) aggregate maintenance —
    * per-day ALGEBRAIC partials `(n, sum, min, max)` per event_type,
    * merged to the all-time summary by `(Σn, Σsum, min min, max max)`.
    * This is how a 100 TB metrics store absorbs a new day: aggregate ONLY
    * the new partition into a partial row, append, and re-merge the tiny
    * partials table — never re-scan history. `avg` is derived from the
    * merged (sum, n) — NOT an average of averages, which is the classic
    * wrong merge for non-uniform day sizes. The oracle recomputes
    * directly from raw rows, so the hash match proves merge ≡ recompute.
    */
  private val incrementalAgg = QueryDef(
    "q_incremental_agg",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      val partials = e.groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
      partials.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n"),
          sum(col("s")).as("s"), min(col("mn")).as("mn"), max(col("mx")).as("mx"))
        .select(col("event_type"), col("n_days"), col("n"),
          Ql.r(col("s"), 2).as("total"),
          Ql.r(col("s") / col("n"), 4).as("avg_value"),
          Ql.r(col("mn"), 4).as("min_value"),
          Ql.r(col("mx"), 4).as("max_value"))
        .orderBy("event_type")
    },
    Some(s"""
      SELECT event_type,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
             count(*) AS n,
             ${Ql.R("sum(value)", 2)} AS total,
             ${Ql.R("sum(value) / count(*)", 4)} AS avg_value,
             ${Ql.R("min(value)", 4)} AS min_value,
             ${Ql.R("max(value)", 4)} AS max_value
      FROM events GROUP BY 1 ORDER BY 1
    """))

  /** D4d: mergeable quantile sketch — a fixed-width histogram RELATION
    * (`bucket -> count`, width 4.0 over `events.value`) built per day and
    * merged by counter addition, then inverted into p50/p95/p99 by
    * walking the tiny cumulative table. This is the equi-width cousin of
    * t-digest/KLL: cruder error (± a bucket width) but EXACTLY mergeable
    * and fully deterministic, so the estimates hash-match the oracle
    * rather than hiding behind an error flag. The per-type histogram is
    * ~150 rows regardless of corpus size — the quantile inversion is a
    * broadcast-scale join, and the only data-sized step is the one keyed
    * count. `exact` comes from percentile_cont (the q_agg_percentile
    * cross-engine equivalence) and `within_2w` must come out 1: the
    * inverted estimate lands in the crossing bucket, the true value in
    * the same or an adjacent one.
    */
  private val quantileSketch = QueryDef(
    "q_quantile_sketch",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val width = 4.0
      val e = Tables.events(spark, sfDir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      val daily = e
        .withColumn("bucket", floor(col("value") / width).cast("long"))
        .groupBy("event_type", "day", "bucket").agg(count(lit(1)).as("c"))
      // merge = counter addition, same algebra as the CMS relation
      val hist = daily.groupBy("event_type", "bucket").agg(sum(col("c")).as("c"))
      val wCum = Window.partitionBy("event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("prev", col("cum") - col("c"))
      val totals = hist.groupBy("event_type").agg(sum(col("c")).as("n"))
      val targets = totals
        .select(col("event_type"), col("n"),
          explode(expr("array(0.5D, 0.95D, 0.99D)")).as("q"))
        .withColumn("t", col("q") * col("n"))
      // unique crossing bucket: prev < t <= cum
      val est = targets.join(cum, "event_type")
        .filter(col("prev") < col("t") && col("t") <= col("cum"))
        .select(col("event_type"), col("q"),
          Ql.r(col("bucket") * width
            + lit(width) * (col("t") - col("prev")) / col("c"), 4).as("est"))
      val exact = e.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          expr("percentile(value, 0.99)").as("p99"))
      est.join(exact, "event_type")
        .withColumn("exact", Ql.r(
          when(col("q") === 0.5, col("p50"))
            .when(col("q") === 0.95, col("p95"))
            .otherwise(col("p99")), 4))
        .withColumn("within_2w",
          (abs(col("est") - col("exact")) <= 2 * width).cast("int"))
        .select(col("event_type"), col("q"), col("est"), col("exact"), col("within_2w"))
        .orderBy("event_type", "q")
    },
    Some(s"""
      WITH e AS (SELECT event_type, value FROM events),
      hist AS (
        SELECT event_type, CAST(floor(value / CAST(4 AS DOUBLE)) AS BIGINT) AS bucket,
               count(*) AS c
        FROM e GROUP BY 1, 2),
      cum AS (
        SELECT event_type, bucket, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hist),
      targets AS (
        SELECT event_type, n, q, q * n AS t
        FROM (SELECT event_type, sum(c) AS n FROM hist GROUP BY 1),
             (SELECT unnest([0.5, 0.95, 0.99]::DOUBLE[]) AS q)),
      est AS (
        SELECT tg.event_type, tg.q,
               ${Ql.R("cm.bucket * 4.0 + 4.0 * (tg.t - (cm.cum - cm.c)) / cm.c", 4)} AS est
        FROM targets tg JOIN cum cm ON tg.event_type = cm.event_type
        WHERE cm.cum - cm.c < tg.t AND tg.t <= cm.cum),
      ex AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS p50,
               percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95,
               percentile_cont(0.99) WITHIN GROUP (ORDER BY value) AS p99
        FROM e GROUP BY 1)
      SELECT est.event_type, est.q, est.est,
             ${Ql.R("CASE est.q WHEN 0.5 THEN p50 WHEN 0.95 THEN p95 ELSE p99 END", 4)} AS exact,
             CASE WHEN abs(est.est - ${Ql.R("CASE est.q WHEN 0.5 THEN p50 WHEN 0.95 THEN p95 ELSE p99 END", 4)}) <= 8.0
                  THEN 1 ELSE 0 END AS within_2w
      FROM est JOIN ex ON est.event_type = ex.event_type
      ORDER BY est.event_type, est.q
    """))

  /** D4d: KMV / theta sketch (Beyer et al. 2007 / the theta-sketch set
    * algebra, public) as a RELATION — the k=256 MINIMUM md5-hash values
    * of each time-half's (user, event-type) activity set — >k combos at
    * sf0.01 so the ESTIMATE path is oracle-gated, <k at sf0.001 so the
    * exact-mode fallback (fewer than k values ⇒ the sketch IS the set)
    * is too. Distinct estimate = (k−1)·2^56 / h_k
    * (the kth minimum); the SET ALGEBRA is what HLL cannot do: the
    * union's k-min is the k smallest of the two sketches' union, the
    * Jaccard estimate is the fraction of the union's k-min present in
    * BOTH halves, and the intersection estimate follows as J·|∪|-est —
    * sketch-only set intersection, never re-scanning raw data. Every
    * step is integer md5 arithmetic plus exact TakeOrderedAndProject
    * top-k (deterministic cross-engine, like every sketch here), so the
    * oracle hash-matches the ESTIMATES; the exact distinct counts ride
    * along and make the error visible. At 100 TB each partition keeps
    * its own k-min relation (a merge is a union + top-k — associative,
    * commutative, idempotent).
    */
  private val kmvSketch = QueryDef(
    "q_kmv_sketch",
    (spark, sfDir) => scope {
      val hx = Ql.md5PrefixLong("concat(CAST(user_id AS STRING), ':', event_type)", 14)
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val b = e.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val halves = e.crossJoin(broadcast(b))
        .withColumn("half",
          when(col("us") < col("lo") + (col("hi") - col("lo")) / lit(2), "ref")
            .otherwise("cur"))
        .select(col("half"), expr(hx).as("h"))
        .distinct()
        .checkpointed // feeds both k-min passes and the membership probe
      val k = 256
      def kmin(half: String) = halves.filter(col("half") === half)
        .select(col("h")).orderBy("h").limit(k)
      val refK = kmin("ref")
      val curK = kmin("cur")
      // fewer than k values ⇒ the sketch IS the set (exact mode);
      // floor() explicitly — Spark's long cast truncates but DuckDB's
      // CAST rounds, the one place the engines' cast semantics differ
      def est(kminDf: org.apache.spark.sql.DataFrame) = kminDf
        .agg(max(col("h")).as("hk"), count(lit(1)).as("kk"))
        .select(when(col("kk") < k, col("kk")).otherwise(
          floor(((col("kk") - 1) * lit(72057594037927936.0)) / col("hk")).cast("long"))
          .as("est"))
      val unionK = refK.unionByName(curK).distinct().orderBy("h").limit(k)
      // Jaccard's denominator is the union sketch's ACTUAL size, not the
      // nominal k — in exact mode (|∪| < k) dividing by k would shrink
      // every estimate by |∪|/k while the exact counts sit alongside
      val both = unionK
        .join(halves.filter(col("half") === "ref").select(col("h")), Seq("h"), "left_semi")
        .join(halves.filter(col("half") === "cur").select(col("h")), Seq("h"), "left_semi")
        .agg(count(lit(1)).as("n_both"))
      val unionSize = unionK.agg(count(lit(1)).as("k_union"))
      val exact = halves.groupBy("half").agg(count(lit(1)).as("n"))
      val exactRef = exact.filter(col("half") === "ref").select(col("n").as("exact_ref"))
      val exactCur = exact.filter(col("half") === "cur").select(col("n").as("exact_cur"))
      val exactBoth = halves.filter(col("half") === "ref").select(col("h"))
        .join(halves.filter(col("half") === "cur").select(col("h")), Seq("h"), "left_semi")
        .agg(count(lit(1)).as("exact_intersect"))
      est(refK).withColumnRenamed("est", "est_ref")
        .crossJoin(broadcast(est(curK).withColumnRenamed("est", "est_cur")))
        .crossJoin(broadcast(est(unionK).withColumnRenamed("est", "est_union")))
        .crossJoin(broadcast(both))
        .crossJoin(broadcast(unionSize))
        .crossJoin(broadcast(exactRef))
        .crossJoin(broadcast(exactCur))
        .crossJoin(broadcast(exactBoth))
        .select(
          lit(k).cast("long").as("k"),
          col("est_ref"), col("est_cur"), col("est_union"),
          Ql.r(col("n_both").cast("double") / col("k_union"), 4).as("jaccard_est"),
          // multiply BEFORE dividing: in exact mode est_union == k_union,
          // so n_both·est_union/k_union is an exact integer-valued double
          // (products < 2^53) and floor() returns n_both itself; the
          // divide-first order floors 2.999… artifacts off by one
          floor(col("n_both").cast("double") * col("est_union") / col("k_union"))
            .cast("long").as("est_intersect"),
          col("exact_ref"), col("exact_cur"), col("exact_intersect"))
        .checkpointed // materialize the 1-row report; the scope releases halves
    },
    Some {
      val hx = Ql.Md5PrefixLong("CAST(user_id AS VARCHAR) || ':' || event_type", 14)
      s"""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      b AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
      halves AS (
        SELECT DISTINCT
               CASE WHEN us < lo + (hi - lo) / 2 THEN 'ref' ELSE 'cur' END AS half,
               $hx AS h
        FROM e, b),
      refk AS (SELECT h FROM halves WHERE half = 'ref' ORDER BY h LIMIT 256),
      curk AS (SELECT h FROM halves WHERE half = 'cur' ORDER BY h LIMIT 256),
      unionk AS (
        SELECT DISTINCT h FROM (SELECT h FROM refk UNION ALL SELECT h FROM curk)
        ORDER BY h LIMIT 256),
      estr AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
                 ELSE CAST(floor((count(*) - 1) * CAST(72057594037927936 AS DOUBLE) / max(h)) AS BIGINT)
                 END AS est_ref FROM refk),
      estc AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
                 ELSE CAST(floor((count(*) - 1) * CAST(72057594037927936 AS DOUBLE) / max(h)) AS BIGINT)
                 END AS est_cur FROM curk),
      estu AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
                 ELSE CAST(floor((count(*) - 1) * CAST(72057594037927936 AS DOUBLE) / max(h)) AS BIGINT)
                 END AS est_union FROM unionk),
      nboth AS (
        SELECT count(*) AS n_both FROM unionk u
        WHERE EXISTS (SELECT 1 FROM halves WHERE half = 'ref' AND h = u.h)
          AND EXISTS (SELECT 1 FROM halves WHERE half = 'cur' AND h = u.h)),
      usize AS (SELECT count(*) AS k_union FROM unionk),
      exr AS (SELECT count(*) AS exact_ref FROM halves WHERE half = 'ref'),
      exc AS (SELECT count(*) AS exact_cur FROM halves WHERE half = 'cur'),
      exi AS (
        SELECT count(*) AS exact_intersect
        FROM (SELECT h FROM halves WHERE half = 'ref') r
        WHERE EXISTS (SELECT 1 FROM halves c WHERE c.half = 'cur' AND c.h = r.h))
      SELECT CAST(256 AS BIGINT) AS k, est_ref, est_cur, est_union,
             ${Ql.R("CAST(n_both AS DOUBLE) / k_union", 4)} AS jaccard_est,
             CAST(floor(CAST(n_both AS DOUBLE) * est_union / k_union) AS BIGINT) AS est_intersect,
             exact_ref, exact_cur, exact_intersect
      FROM estr, estc, estu, nboth, usize, exr, exc, exi
    """
    })

  override def defs: Seq[QueryDef] =
    Seq(cmsHeavy, bloomDecontam, incrementalAgg, quantileSketch, kmvSketch)
}
