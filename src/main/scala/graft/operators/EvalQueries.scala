package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Model/data evaluation metrics — the measurement side of a training-data
  * pipeline (reference provenance: SURVEY.md §2.I mandates the
  * LLM-data-pipeline extension surface; a curation pipeline that cannot
  * score its own outputs cannot be tuned). Every query is exact integer /
  * fixed-literal arithmetic where possible so the DuckDB twin hash-matches:
  * AUC via the tie-corrected rank-sum identity (all-integer until the final
  * divide), NDCG with the 1/log2(i+1) discount table emitted as shared
  * decimal literals (no libm on either engine), Gini via the sorted-index
  * closed form over cent-rounded revenues.
  */
object EvalQueries extends QueryModule {

  /** Bucketed global-prefix scaffold shared by every rank/CDF sweep in
    * this module: given a frame carrying a monotone `bkt` long column
    * (floor of the leading sort key, so bucket order IS key order),
    * returns the per-bucket EXCLUSIVE offsets of each requested sum as a
    * tiny broadcastable histogram — one row per bucket; the offset
    * window runs over the histogram, never the input. Joining the
    * offsets back and adding an in-bucket (partitioned, distributed)
    * window yields global row_numbers / running sums with no
    * single-partition window anywhere: the q_global_ordinals two-level
    * pattern, factored once so q_gini / q_rrf_fusion / rankSumAuc /
    * q_ks_scores cannot drift from the oracle-proven shape.
    */
  private def bucketOffsets(e: org.apache.spark.sql.DataFrame,
      sums: (String, Column)*): org.apache.spark.sql.DataFrame = {
    val aggCols = sums.map { case (n, c) => sum(c).as(s"b_$n") }
    val wPre = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    sums.foldLeft(
      e.groupBy("bkt").agg(aggCols.head, aggCols.tail: _*)
    ) { case (acc, (n, _)) =>
      acc.withColumn(s"off_$n", coalesce(sum(col(s"b_$n")).over(wPre), lit(0L)))
    }.select(col("bkt") +: sums.map { case (n, _) => col(s"off_$n") }: _*)
  }

  /** ROC-AUC of a scalar score against a binary label, computed as the
    * tie-corrected Mann–Whitney U statistic: group by distinct score
    * (positives get the tie-group's AVERAGE rank), then
    * AUC = (2·Σranks⁺ − P(P+1)) / (2·P·N). Everything up to the final
    * divide is 64-bit integer arithmetic — no float associativity to
    * diverge the engines. The ordinal sweep runs over the DISTINCT-score
    * table via the two-level bucket pattern (score-range buckets + a
    * broadcast offset histogram — no single-partition window even when
    * distinct scores approach input size, as they do for continuous
    * embedding components). Score = first embedding component, positive
    * class = label 0.
    */
  /** Tie-corrected rank-sum AUC over a DataFrame with columns
    * `score: numeric` and `pos: long ∈ {0,1}` → one row
    * (n_pos, n_neg, auc). Exposed for the definitional spec (the oracle
    * twin shares the same closed form, so only a brute-force pairwise
    * count independently checks the formula).
    */
  def rankSumAuc(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val g = scored.groupBy("score")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
      .withColumn("bkt", floor(col("score") * lit(8.0)).cast("long"))
    val inBucketBefore = Window.partitionBy("bkt").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.join(broadcast(bucketOffsets(g, "n" -> col("n"))), "bkt")
      .withColumn("cum",
        col("off_n") + coalesce(sum(col("n")).over(inBucketBefore), lit(0L)))
      .agg(
        sum(col("p") * (lit(2L) * col("cum") + col("n") + lit(1L))).as("s2"),
        sum(col("p")).as("n_pos"),
        sum(col("n") - col("p")).as("n_neg"))
      .select(
        col("n_pos"),
        col("n_neg"),
        Ql.r((col("s2") - col("n_pos") * (col("n_pos") + lit(1L))).cast("double")
          / (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  private val auc = QueryDef(
    "q_auc",
    (spark, sfDir) =>
      rankSumAuc(Tables.embeddings(spark, sfDir)
        .select(
          element_at(col("embedding"), 1).as("score"),
          when(col("label") === 0, 1L).otherwise(0L).as("pos"))),
    Some(s"""
      WITH e AS (
        SELECT embedding[1] AS score,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        FROM embeddings),
      g AS (SELECT score, count(*) AS n, sum(pos) AS p FROM e GROUP BY 1),
      r AS (
        SELECT p, n,
               coalesce(sum(n) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM g),
      a AS (
        SELECT CAST(sum(p * (2 * cum + n + 1)) AS BIGINT) AS s2,
               CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(n - p) AS BIGINT) AS n_neg
        FROM r)
      SELECT n_pos, n_neg,
             ${Ql.R("CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE) / (2.0 * n_pos * n_neg)", 6)} AS auc
      FROM a
    """))

  /** Gini concentration of per-customer revenue via the sorted-index
    * closed form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. Revenues are
    * cent-rounded BEFORE ranking so the sort key is the identical double
    * in both engines; the index is a row_number with a key tiebreak
    * (equal-x swaps cannot change Σ i·xᵢ, but the determinism keeps the
    * plans honest). The per-customer table grows with the customer
    * catalog, so the global ordinal is the two-level bucket rank
    * (revenue-range buckets + broadcast offset histogram), never a
    * single-partition window.
    */
  private val gini = QueryDef(
    "q_gini",
    (spark, sfDir) => {
      val rev = Tables.orders(spark, sfDir)
        .groupBy("o_custkey")
        .agg(Ql.r(sum(col("o_totalprice")), 2).as("x"))
        .withColumn("bkt", floor(col("x") / lit(16384.0)).cast("long"))
      val inBucket = Window.partitionBy("bkt").orderBy(col("x"), col("o_custkey"))
      rev.join(broadcast(bucketOffsets(rev, "cnt" -> lit(1L))), "bkt")
        .withColumn("i", col("off_cnt") + row_number().over(inBucket).cast("long"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("x")).as("sx"),
          sum(col("i").cast("double") * col("x")).as("six"))
        .select(
          col("n_customers"),
          Ql.r(col("sx"), 2).as("total_revenue"),
          Ql.r(lit(2.0) * col("six") / (col("n_customers") * col("sx"))
            - (col("n_customers") + lit(1L)).cast("double") / col("n_customers"), 6)
            .as("gini"))
    },
    Some(s"""
      WITH rev AS (
        SELECT o_custkey, ${Ql.R("sum(o_totalprice)", 2)} AS x
        FROM orders GROUP BY 1),
      idx AS (
        SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
        FROM rev),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_customers,
               sum(x) AS sx,
               sum(CAST(i AS DOUBLE) * x) AS six
        FROM idx)
      SELECT n_customers, ${Ql.R("sx", 2)} AS total_revenue,
             ${Ql.R("2.0 * six / (n_customers * sx) - CAST(n_customers + 1 AS DOUBLE) / n_customers", 6)} AS gini
      FROM a
    """))

  /** NDCG@10 of a price-ranked order list against priority-graded
    * relevance (URGENT→gain 3, HIGH→1, else 0), averaged per market
    * segment. The rank discount 1/log2(i+1) is materialized as a 10-entry
    * literal table generated ONCE in Scala and spliced into BOTH engines'
    * expressions — shortest-round-trip decimal strings parse to the
    * identical double everywhere, so no libm log enters either plan.
    * Ideal ranking re-ranks the same per-customer set by gain; both
    * rankings are two window row_numbers in one partition pass.
    */
  private val ndcg = QueryDef(
    "q_ndcg",
    (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          when(col("o_orderpriority") === "1-URGENT", 3.0)
            .when(col("o_orderpriority") === "2-HIGH", 1.0)
            .otherwise(0.0).as("g"))
      val byPrice = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val byGain = Window.partitionBy("o_custkey")
        .orderBy(col("g").desc, col("o_orderkey"))
      def disc(rn: Column): Column =
        discounts.foldLeft(lit(0.0)) { case (acc, (i, v)) =>
          when(rn === i, lit(v)).otherwise(acc)
        }
      val per = o
        .withColumn("rp", row_number().over(byPrice))
        .withColumn("rr", row_number().over(byGain))
        .groupBy("o_custkey")
        .agg(
          sum(col("g") * disc(col("rp"))).as("dcg"),
          sum(col("g") * disc(col("rr"))).as("idcg"))
        .filter(col("idcg") > 0)
        .select(col("o_custkey"), Ql.r(col("dcg") / col("idcg"), 6).as("ndcg"))
      per.join(Tables.customer(spark, sfDir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), Ql.r(avg(col("ndcg")), 4).as("avg_ndcg"))
        .orderBy("c_mktsegment")
    },
    Some(s"""
      WITH o AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CASE o_orderpriority WHEN '1-URGENT' THEN 3.0
                                    WHEN '2-HIGH' THEN 1.0
                                    ELSE 0.0 END AS g
        FROM orders),
      r AS (
        SELECT o_custkey, g,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rp,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY g DESC, o_orderkey) AS rr
        FROM o),
      d AS (
        SELECT o_custkey,
               sum(g * ${discSql("rp")}) AS dcg,
               sum(g * ${discSql("rr")}) AS idcg
        FROM r GROUP BY 1),
      n AS (
        SELECT o_custkey, ${Ql.R("dcg / idcg", 6)} AS ndcg
        FROM d WHERE idcg > 0)
      SELECT c_mktsegment, count(*) AS n_customers,
             ${Ql.R("avg(ndcg)", 4)} AS avg_ndcg
      FROM n JOIN customer ON c_custkey = o_custkey
      GROUP BY 1 ORDER BY 1
    """))

  /** Position → 1/log2(i+1), i = 1..10, as shortest-round-trip decimal
    * strings (Double.toString) shared verbatim by both engines.
    */
  private lazy val discounts: Seq[(Int, Double)] =
    (1 to 10).map(i => i -> 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  private def discSql(rnCol: String): String =
    discounts.map { case (i, v) => s"WHEN $rnCol = $i THEN $v" }
      .mkString("CASE ", " ", " ELSE 0.0 END")

  /** Winsorized (5%/95%-clamped) per-segment account-balance stats — the
    * robust-mean preprocessing step of any feature pipeline. The exact
    * interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `percentile_cont`, same (n−1)·q index — proven by q_agg_percentile)
    * come from a 5-row aggregate broadcast back onto the scan; strict
    * compares against the cutoffs are safe because c_acctbal is
    * cent-granular while a non-integral interpolation index lands strictly
    * between cent values.
    */
  private val winsorize = QueryDef(
    "q_winsorize",
    (spark, sfDir) => {
      val c = Tables.customer(spark, sfDir)
        .select(col("c_mktsegment"), col("c_acctbal"))
      val pct = c.groupBy("c_mktsegment").agg(
        expr("percentile(c_acctbal, 0.05)").as("p05"),
        expr("percentile(c_acctbal, 0.95)").as("p95"))
      c.join(broadcast(pct), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("c_acctbal") < col("p05"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("c_acctbal") > col("p95"), 1L).otherwise(0L)).as("n_high"),
          Ql.r(first(col("p05")), 4).as("p05_r"),
          Ql.r(first(col("p95")), 4).as("p95_r"),
          Ql.r(avg(greatest(least(col("c_acctbal"), col("p95")), col("p05"))), 4)
            .as("win_mean"))
        .orderBy("c_mktsegment")
    },
    Some(s"""
      WITH pct AS (
        SELECT c_mktsegment,
               percentile_cont(0.05) WITHIN GROUP (ORDER BY c_acctbal) AS p05,
               percentile_cont(0.95) WITHIN GROUP (ORDER BY c_acctbal) AS p95
        FROM customer GROUP BY 1)
      SELECT c.c_mktsegment,
             count(*) AS n,
             CAST(sum(CASE WHEN c_acctbal < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
             CAST(sum(CASE WHEN c_acctbal > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
             ${Ql.R("any_value(p05)", 4)} AS p05_r,
             ${Ql.R("any_value(p95)", 4)} AS p95_r,
             ${Ql.R("avg(greatest(least(c_acctbal, p95), p05))", 4)} AS win_mean
      FROM customer c JOIN pct ON c.c_mktsegment = pct.c_mktsegment
      GROUP BY 1 ORDER BY 1
    """))

  /** Mean reciprocal rank of the first URGENT order in each customer's
    * price-descending ranking — the retrieval twin of q_ndcg with the
    * harsher first-hit metric. 1/rank is an exact IEEE division of
    * identical operands on both engines; only the final averages round.
    */
  private val mrr = QueryDef(
    "q_mrr",
    (spark, sfDir) => {
      val byPrice = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val firstHit = Tables.orders(spark, sfDir)
        .withColumn("rp", row_number().over(byPrice))
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_custkey")
        .agg(min(col("rp")).as("first_rank"))
      firstHit.join(Tables.customer(spark, sfDir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_customers"),
          Ql.r(avg(lit(1.0) / col("first_rank")), 4).as("mrr"),
          Ql.r(avg(col("first_rank").cast("double")), 4).as("avg_first_rank"))
        .orderBy("c_mktsegment")
    },
    Some(s"""
      WITH r AS (
        SELECT o_custkey, o_orderpriority,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rp
        FROM orders),
      f AS (
        SELECT o_custkey, min(rp) AS first_rank
        FROM r WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
      SELECT c_mktsegment, count(*) AS n_customers,
             ${Ql.R("avg(1.0 / first_rank)", 4)} AS mrr,
             ${Ql.R("avg(CAST(first_rank AS DOUBLE))", 4)} AS avg_first_rank
      FROM f JOIN customer ON c_custkey = o_custkey
      GROUP BY 1 ORDER BY 1
    """))

  /** Calibration / reliability bins: 10 equi-width buckets over the score
    * range, each reporting observed positive rate vs mean score. The
    * data-dependent bounds are a 1-row aggregate broadcast back onto the
    * scan (never collected to the driver); the bucket index is a scalar
    * IEEE expression over identical operands, so it cannot diverge
    * between engines.
    */
  private val calibrationBins = QueryDef(
    "q_calibration_bins",
    (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
        .select(
          element_at(col("embedding"), 1).cast("double").as("score"),
          when(col("label") === 0, 1L).otherwise(0L).as("pos"))
      val bounds = e.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
      e.join(broadcast(bounds))
        .withColumn("bin",
          least(floor((col("score") - col("lo")) * lit(10.0)
            / (col("hi") - col("lo"))), lit(9.0)).cast("long"))
        .groupBy("bin")
        .agg(
          count(lit(1)).as("n"),
          Ql.r(avg(col("score")), 4).as("mean_score"),
          Ql.r(avg(col("pos").cast("double")), 4).as("frac_pos"))
        .orderBy("bin")
    },
    Some(s"""
      WITH e AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS score,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        FROM embeddings),
      b AS (SELECT min(score) AS lo, max(score) AS hi FROM e)
      SELECT CAST(least(floor((score - lo) * 10.0 / (hi - lo)), 9.0) AS BIGINT) AS bin,
             count(*) AS n,
             ${Ql.R("avg(score)", 4)} AS mean_score,
             ${Ql.R("avg(CAST(pos AS DOUBLE))", 4)} AS frac_pos
      FROM e, b
      GROUP BY 1 ORDER BY 1
    """))

  /** Reciprocal-rank fusion (Cormack et al. 2009, public) of two part
    * rankings — units sold vs revenue — into one top-20: score =
    * Σ 1/(60+rankᵢ). The fusion arithmetic is two exact IEEE divisions
    * and one addition over integer ranks, so only the pre-rank sort
    * keys need the cent-rounding contract. The per-part aggregate grows
    * with the part catalog, so BOTH global ranks come from the
    * two-level bucket pattern (descending-key buckets via floor(−key/w)
    * + broadcast offset histograms) — no single-partition window.
    * Top-20 via TakeOrderedAndProject on the rounded fused score with a
    * key tiebreak.
    */
  private val rrfFusion = QueryDef(
    "q_rrf_fusion",
    (spark, sfDir) => {
      val s = Tables.lineitem(spark, sfDir)
        .groupBy("l_partkey")
        .agg(
          Ql.r(sum(col("l_quantity")), 2).as("qty"),
          Ql.r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("rev"))
        .withColumn("bkt", floor(-col("qty") / lit(64.0)).cast("long"))
      val inQty = Window.partitionBy("bkt").orderBy(col("qty").desc, col("l_partkey"))
      val ranked1 = s.join(broadcast(bucketOffsets(s, "q" -> lit(1L))), "bkt")
        .withColumn("qty_rank", col("off_q") + row_number().over(inQty).cast("long"))
        .drop("bkt", "off_q")
        .withColumn("bkt", floor(-col("rev") / lit(65536.0)).cast("long"))
      val inRev = Window.partitionBy("bkt").orderBy(col("rev").desc, col("l_partkey"))
      ranked1.join(broadcast(bucketOffsets(ranked1, "r" -> lit(1L))), "bkt")
        .withColumn("rev_rank", col("off_r") + row_number().over(inRev).cast("long"))
        .select(col("l_partkey"), col("qty_rank"), col("rev_rank"),
          Ql.r(lit(1.0) / (lit(60L) + col("qty_rank"))
            + lit(1.0) / (lit(60L) + col("rev_rank")), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("l_partkey"))
        .limit(20)
    },
    Some(s"""
      WITH s AS (
        SELECT l_partkey,
               ${Ql.R("sum(l_quantity)", 2)} AS qty,
               ${Ql.R("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS rev
        FROM lineitem GROUP BY 1),
      r AS (
        SELECT l_partkey,
               CAST(row_number() OVER (ORDER BY qty DESC, l_partkey) AS BIGINT) AS qty_rank,
               CAST(row_number() OVER (ORDER BY rev DESC, l_partkey) AS BIGINT) AS rev_rank
        FROM s)
      SELECT l_partkey, qty_rank, rev_rank,
             ${Ql.R("1.0 / (60 + qty_rank) + 1.0 / (60 + rev_rank)", 6)} AS rrf
      FROM r ORDER BY rrf DESC, l_partkey LIMIT 20
    """))

  /** Decile lift chart — the campaign-targeting view of the same scored
    * set q_auc grades: rank by score DESC, cut into 10 equal tiles, and
    * report per-decile response rate, cumulative capture, and lift vs the
    * base rate. The tile id comes from the q_equidepth_bins closed-form
    * ntile over two-level global ordinals (score-range buckets + a tiny
    * offset histogram), NOT a single-partition ntile window — the shape
    * that survives 100 TB. All rates are exact-integer ratios until the
    * final rounded divide; the cumulative/total sums run over the 10-row
    * decile aggregate, so no extra pass over the input.
    */
  private val decileLift = QueryDef(
    "q_decile_lift",
    (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
        .select(
          col("vec_id"),
          element_at(col("embedding"), 1).cast("double").as("score"),
          when(col("label") === 0, 1L).otherwise(0L).as("pos"))
      val nRow = e.agg(count(lit(1)).as("n_total"))
      val deciles = scoredOrdinals(e) // the shared (score DESC, id) ordinal k
        .crossJoin(broadcast(nRow))
        .withColumn("decile", expr("""
          CASE WHEN k <= (n_total % 10) * (n_total div 10 + 1)
               THEN (k - 1) div (n_total div 10 + 1) + 1
               ELSE (n_total % 10)
                    + (k - (n_total % 10) * (n_total div 10 + 1) - 1) div (n_total div 10) + 1
          END"""))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      val wAll = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wCum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deciles // 10 rows from here on — the windows are driver-cheap
        .withColumn("tot_n", sum(col("n")).over(wAll))
        .withColumn("tot_pos", sum(col("n_pos")).over(wAll))
        .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
        .select(
          col("decile"), col("n"), col("n_pos"),
          Ql.r(col("n_pos").cast("double") / col("n"), 6).as("resp_rate"),
          Ql.r(col("cum_pos").cast("double") / col("tot_pos"), 6).as("cum_capture"),
          Ql.r(col("n_pos").cast("double") * col("tot_n") / (col("n") * col("tot_pos")), 6)
            .as("lift"))
        .orderBy("decile")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        FROM embeddings),
      t AS (
        SELECT pos, ntile(10) OVER (ORDER BY score DESC, vec_id) AS decile
        FROM e),
      d AS (
        SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos
        FROM t GROUP BY 1),
      x AS (
        SELECT decile, n, n_pos,
               sum(n) OVER () AS tot_n,
               sum(n_pos) OVER () AS tot_pos,
               sum(n_pos) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
        FROM d)
      SELECT decile, n, n_pos,
             ${Ql.R("CAST(n_pos AS DOUBLE) / n", 6)} AS resp_rate,
             ${Ql.R("CAST(cum_pos AS DOUBLE) / tot_pos", 6)} AS cum_capture,
             ${Ql.R("CAST(n_pos AS DOUBLE) * tot_n / (n * tot_pos)", 6)} AS lift
      FROM x ORDER BY decile
    """))

  /** Cohen's kappa (Cohen 1960, public) between the lang-ID heuristic and
    * the ground-truth lang column, over the SAME factored
    * [[TextQueries.langConfusion]] matrix q_lang_id / q_lang_id_f1 grade —
    * chance-corrected agreement, the standard inter-rater statistic for a
    * weak labeler vs gold labels. Observed agreement is a 64-bit-integer
    * sum over the langs²-sized confusion table; pe's numerator Σ row·col
    * and the n² denominator are computed in DOUBLE on both engines — a
    * single dominant class overflows row·col past 2^63 once the corpus
    * exceeds ~3·10⁹ documents, and Spark (non-ANSI) would wrap silently
    * where DuckDB raises. The double sum runs over ≤ langs rows (a
    * handful), the same accepted summation-order residual as every mean
    * in the suite, and pe is rounded at 6 dp.
    */
  private val kappaAgreement = QueryDef(
    "q_kappa_agreement",
    (spark, sfDir) => {
      val conf = TextQueries.langConfusion(spark, sfDir).checkpointed
      val diag = conf.filter(col("lang") === col("pred"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("agree"))
      val marg = conf.groupBy("lang").agg(sum(col("n")).as("row_n"))
        .join(conf.groupBy(col("pred").as("lang")).agg(sum(col("n")).as("col_n")), "lang")
        .agg(sum(col("row_n").cast("double") * col("col_n")).as("pe_num"))
      val tot = conf.agg(sum(col("n")).as("n_docs"))
      tot.crossJoin(broadcast(diag)).crossJoin(broadcast(marg)) // three 1-row frames
        .select(
          col("n_docs"), col("agree"),
          Ql.r(col("agree").cast("double") / col("n_docs"), 6).as("po"),
          Ql.r(col("pe_num") / (col("n_docs").cast("double") * col("n_docs")), 6).as("pe"))
        .withColumn("kappa",
          Ql.r((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6))
    },
    Some(s"""
      WITH ${TextQueries.langConfusionSql},
      diag AS (
        SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS agree
        FROM confusion WHERE lang = pred),
      marg AS (
        SELECT sum(CAST(row_n AS DOUBLE) * col_n) AS pe_num FROM (
          SELECT r.lang, r.row_n, c.col_n FROM
            (SELECT lang, CAST(sum(n) AS BIGINT) AS row_n FROM confusion GROUP BY 1) r
            JOIN
            (SELECT pred AS lang, CAST(sum(n) AS BIGINT) AS col_n FROM confusion GROUP BY 1) c
            ON r.lang = c.lang)),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs FROM confusion),
      s AS (
        SELECT n_docs, agree,
               ${Ql.R("CAST(agree AS DOUBLE) / n_docs", 6)} AS po,
               ${Ql.R("pe_num / (CAST(n_docs AS DOUBLE) * n_docs)", 6)} AS pe
        FROM tot, diag, marg)
      SELECT n_docs, agree, po, pe,
             ${Ql.R("(po - pe) / (1.0 - pe)", 6)} AS kappa
      FROM s
    """))

  /** Brier score (Brier 1950, public) of a min-max-calibrated pseudo-
    * probability against the binary label, reported per class plus the
    * class-conditional mean forecast — the probabilistic-quality companion
    * to q_auc's pure ranking view. The forecast is the score min-max
    * mapped to [0,1] with the bounds as a 1-row broadcast (same shape as
    * q_calibration_bins), rounded to 6 dp BEFORE squaring so both engines
    * square identical operands; the final means carry the same accepted
    * residual summation-order risk as every other mean in the suite and
    * are rounded at 4 dp.
    */
  private val brierScore = QueryDef(
    "q_brier_score",
    (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
        .select(
          element_at(col("embedding"), 1).cast("double").as("score"),
          when(col("label") === 0, 1L).otherwise(0L).as("pos"))
      val bounds = e.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
      e.join(broadcast(bounds))
        .withColumn("p", Ql.r((col("score") - col("lo")) / (col("hi") - col("lo")), 6))
        .groupBy(col("pos"))
        .agg(
          count(lit(1)).as("n"),
          Ql.r(avg(col("p")), 4).as("mean_forecast"),
          Ql.r(avg((col("p") - col("pos")) * (col("p") - col("pos"))), 4).as("brier"))
        .orderBy("pos")
    },
    Some(s"""
      WITH e AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS score,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        FROM embeddings),
      b AS (SELECT min(score) AS lo, max(score) AS hi FROM e),
      p AS (SELECT pos, ${Ql.R("(score - lo) / (hi - lo)", 6)} AS p FROM e, b)
      SELECT CAST(pos AS BIGINT) AS pos, count(*) AS n,
             ${Ql.R("avg(p)", 4)} AS mean_forecast,
             ${Ql.R("avg((p - pos) * (p - pos))", 4)} AS brier
      FROM p GROUP BY 1 ORDER BY 1
    """))

  /** Average precision (the area under the precision-recall curve in its
    * standard rank-sum form) of the scored set q_auc grades, under the
    * DETERMINISTIC total order (score DESC, vec_id) — ties broken by id
    * so both engines walk the identical permutation and AP is exact
    * arithmetic, not a convention. AP = (Σ_{k: rel} cum_pos(k)/k) / n_pos.
    * The global rank and running positive count come from the two-level
    * ordinal pattern (bucket offsets for BOTH the row ordinal and the
    * positive prefix — no single-partition window anywhere); the oracle
    * uses literal global windows, so the hash match proves the
    * distributed prefix sums ARE row_number/running-sum. The final sum
    * over positive rows carries the suite's accepted summation-order
    * residual at 6 dp.
    */
  /** The two-level-ordinal AP pipeline over a frame with columns
    * `(vec_id, score, pos)` → one row (n, n_pos, avg_precision).
    * Exposed for the definitional PropertySpec check (the oracle twin
    * shares the rank-sum form, so only an independent sequential walk
    * validates the formula).
    */
  /** Global ordinal `k` under (score DESC, vec_id) and running positive
    * count `cum_pos`, both via two-level ordinals (score-range buckets +
    * tiny offset histograms — never a single-partition window). The one
    * definition behind q_avg_precision AND q_decile_lift, so the
    * property-tested ordinal arithmetic cannot drift from the lift
    * chart's copy. Input columns (vec_id, score, pos); adds (k, cum_pos).
    */
  private def scoredOrdinals(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val e = scored
        .withColumn("neg", -col("score"))
        .withColumn("bkt", floor(col("neg") * lit(8.0)).cast("long"))
      val offsets = e.groupBy("bkt")
        .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("pcnt"))
        .withColumn("offset",
          coalesce(sum(col("cnt")).over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("poffset",
          coalesce(sum(col("pcnt")).over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "offset", "poffset")
      val inBucket = Window.partitionBy("bkt").orderBy("neg", "vec_id")
      e.join(broadcast(offsets), "bkt")
        .withColumn("k", col("offset") + row_number().over(inBucket))
        .withColumn("cum_pos", col("poffset") + sum(col("pos")).over(
          inBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  def rankSumAp(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      scoredOrdinals(scored)
        .agg(
          sum(col("pos")).as("n_pos"),
          count(lit(1)).as("n"),
          sum(when(col("pos") === 1L,
            col("cum_pos").cast("double") / col("k")).otherwise(lit(0.0))).as("ap_num"))
        .select(col("n"), col("n_pos"),
          Ql.r(col("ap_num") / col("n_pos"), 6).as("avg_precision"))
  }

  private val avgPrecision = QueryDef(
    "q_avg_precision",
    (spark, sfDir) =>
      rankSumAp(Tables.embeddings(spark, sfDir)
        .select(
          col("vec_id"),
          element_at(col("embedding"), 1).cast("double").as("score"),
          when(col("label") === 0, 1L).otherwise(0L).as("pos"))),
    Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        FROM embeddings),
      r AS (
        SELECT pos,
               row_number() OVER (ORDER BY score DESC, vec_id) AS k,
               sum(pos) OVER (ORDER BY score DESC, vec_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
        FROM e)
      SELECT count(*) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             ${Ql.R("sum(CASE WHEN pos = 1 THEN CAST(cum_pos AS DOUBLE) / k ELSE 0.0 END) / sum(pos)", 6)}
               AS avg_precision
      FROM r
    """))

  /** Classifier KS statistic — max CDF separation between the positive
    * and negative score distributions, the credit-scoring twin of
    * q_auc (q_ks_drift answers "did the DATA shift"; this answers "does
    * the SCORE separate the classes"). The maximum runs on the exact
    * INTEGER cross-product |c_pos·N − c_neg·P| (cumulative counts times
    * opposite totals), so the argmax — including its min-score
    * tiebreak — is integer-exact in both engines, and only the final
    * report divides. Integer-exact holds while n_pos·n_neg < 2^63
    * (≈3·10⁹ rows per class); past that, pre-bucket the scores
    * (q_ks_drift's shape) or accept a double argmax. The cumulative
    * CDFs run over the distinct-score table — near input-sized for a
    * continuous score — so they use the two-level bucket pattern
    * (broadcast offset histogram + partitioned in-bucket windows) and
    * the class totals are a 1-row broadcast, never an
    * unbounded-following window.
    */
  private val ksScores = QueryDef(
    "q_ks_scores",
    (spark, sfDir) => {
      val g = Tables.embeddings(spark, sfDir)
        .select(
          element_at(col("embedding"), 1).cast("double").as("score"),
          when(col("label") === 0, 1L).otherwise(0L).as("pos"))
        .groupBy("score")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
        .withColumn("bkt", floor(col("score") * lit(8.0)).cast("long"))
      val totals = g.agg(
        sum(col("p")).as("t_pos"), sum(col("n") - col("p")).as("t_neg"))
      val inBucket = Window.partitionBy("bkt").orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.join(broadcast(bucketOffsets(g,
          "p" -> col("p"), "np" -> (col("n") - col("p")))), "bkt")
        .withColumn("c_pos", col("off_p") + sum(col("p")).over(inBucket))
        .withColumn("c_neg", col("off_np") + sum(col("n") - col("p")).over(inBucket))
        .crossJoin(broadcast(totals))
        .withColumn("sep", abs(col("c_pos") * col("t_neg") - col("c_neg") * col("t_pos")))
        .orderBy(col("sep").desc, col("score"))
        .limit(1)
        .select(
          col("t_pos").as("n_pos"), col("t_neg").as("n_neg"),
          Ql.r(col("score"), 6).as("ks_at_score"),
          Ql.r(col("sep").cast("double") / (col("t_pos") * col("t_neg")), 6).as("ks"))
    },
    Some(s"""
      WITH e AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS score,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        FROM embeddings),
      g AS (SELECT score, count(*) AS n, sum(pos) AS p FROM e GROUP BY 1),
      c AS (
        SELECT score,
               CAST(sum(p) OVER w AS BIGINT) AS c_pos,
               CAST(sum(n - p) OVER w AS BIGINT) AS c_neg,
               CAST(sum(p) OVER () AS BIGINT) AS t_pos,
               CAST(sum(n - p) OVER () AS BIGINT) AS t_neg
        FROM g
        WINDOW w AS (ORDER BY score ROWS UNBOUNDED PRECEDING))
      SELECT t_pos AS n_pos, t_neg AS n_neg,
             ${Ql.R("score", 6)} AS ks_at_score,
             ${Ql.R("CAST(abs(c_pos * t_neg - c_neg * t_pos) AS DOUBLE) / (t_pos * t_neg)", 6)} AS ks
      FROM c
      ORDER BY abs(c_pos * t_neg - c_neg * t_pos) DESC, score LIMIT 1
    """))

  /** Weight of evidence / information value (the credit-scorecard
    * feature-strength metric, Siddiqi 2006, public) of the scored set:
    * 10 equi-width score bins (the q_calibration_bins broadcast-bounds
    * pattern), per-bin WOE = ln(frac_pos/frac_neg) with 0.5 Laplace
    * smoothing so an empty side cannot produce ±inf in either engine,
    * and IV = Σ(frac_pos−frac_neg)·WOE as a window sum over the 10-row
    * bin table. Completes the scorecard triad with q_ks_scores and
    * q_decile_lift. Fractions are exact integer ratios rounded 6 dp
    * BEFORE the ln so both engines feed libm identical operands.
    */
  private val woeIv = QueryDef(
    "q_woe_iv",
    (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
        .select(
          element_at(col("embedding"), 1).cast("double").as("score"),
          when(col("label") === 0, 1L).otherwise(0L).as("pos"))
      val bounds = e.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      e.join(broadcast(bounds))
        .withColumn("bin",
          least(floor((col("score") - col("lo")) * lit(10.0)
            / (col("hi") - col("lo"))), lit(9.0)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
        .withColumn("n_neg", col("n") - col("n_pos"))
        .withColumn("t_pos", sum(col("n_pos")).over(wAll))
        .withColumn("t_neg", sum(col("n_neg")).over(wAll))
        .withColumn("fp", Ql.r((col("n_pos") + lit(0.5)) / (col("t_pos") + lit(5.0)), 6))
        .withColumn("fn_", Ql.r((col("n_neg") + lit(0.5)) / (col("t_neg") + lit(5.0)), 6))
        .withColumn("woe", Ql.r(log(col("fp") / col("fn_")), 4))
        .withColumn("iv", Ql.r(sum((col("fp") - col("fn_")) * col("woe")).over(wAll), 4))
        .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
          col("woe"), col("iv"))
        .orderBy("bin")
    },
    Some(s"""
      WITH e AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS score,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        FROM embeddings),
      b AS (SELECT min(score) AS lo, max(score) AS hi FROM e),
      bins AS (
        SELECT CAST(least(floor((score - lo) * 10.0 / (hi - lo)), 9.0) AS BIGINT) AS bin,
               count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
        FROM e, b GROUP BY 1),
      f AS (
        SELECT bin, n, n_pos, n - n_pos AS n_neg,
               ${Ql.R("(n_pos + 0.5) / (sum(n_pos) OVER () + 5.0)", 6)} AS fp,
               ${Ql.R("(n - n_pos + 0.5) / (sum(n - n_pos) OVER () + 5.0)", 6)} AS fn_
        FROM bins),
      w AS (SELECT *, ${Ql.R("ln(fp / fn_)", 4)} AS woe FROM f)
      SELECT bin, n, n_pos, CAST(n_neg AS BIGINT) AS n_neg, woe,
             ${Ql.R("sum((fp - fn_) * woe) OVER ()", 4)} AS iv
      FROM w ORDER BY bin
    """))

  /** One Wilson-score 95% bound (Wilson 1927), as SQL text shared
    * verbatim by both engines over columns `p` (the exact k/n double)
    * and `n` — identical expression structure ⇒ identical IEEE result,
    * so the interval needs only the standard rounding nudge. The z²
    * term stays written as (1.96 * 1.96) so both engines fold the SAME
    * product rather than a pre-rounded Scala constant.
    */
  private def wilsonBound(sign: String): String = {
    val z2 = "(1.96 * 1.96)"
    s"((p + $z2 / (2 * n) $sign 1.96 * sqrt(p * (1.0 - p) / n + $z2 / (4 * n * n))) / (1.0 + $z2 / n))"
  }

  /** Wilson-score 95% confidence interval for the high-value-order rate
    * per market segment — the small-n-safe binomial CI a release
    * dashboard should show instead of the ±z√(pq/n) Wald interval
    * (which collapses at p≈0 and overshoots [0,1]). Counts come from one
    * broadcast-joined aggregation (customer segment is a dimension
    * lookup); the interval arithmetic is per-group scalar math over
    * exact integers, so the segment table never re-shuffles.
    */
  private val wilsonCi = QueryDef(
    "q_wilson_ci",
    (spark, sfDir) => {
      val counts = Tables.orders(spark, sfDir)
        .join(broadcast(Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") > 250000.0, 1L).otherwise(0L)).as("k"))
      counts
        .withColumn("p", col("k") / col("n").cast("double"))
        .selectExpr("c_mktsegment", "n", "k",
          s"${Ql.R("p", 6)} AS rate",
          s"${Ql.R(wilsonBound("-"), 6)} AS ci_lo",
          s"${Ql.R(wilsonBound("+"), 6)} AS ci_hi")
        .orderBy("c_mktsegment")
    },
    Some(s"""
      WITH c AS (
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_totalprice > 250000.0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS k
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1),
      w AS (SELECT c_mktsegment, n, k, k / CAST(n AS DOUBLE) AS p FROM c)
      SELECT c_mktsegment, n, k,
             ${Ql.R("p", 6)} AS rate,
             ${Ql.R(wilsonBound("-"), 6)} AS ci_lo,
             ${Ql.R(wilsonBound("+"), 6)} AS ci_hi
      FROM w
      ORDER BY c_mktsegment
    """))

  /** Murphy decomposition of the Brier score plus expected calibration
    * error over the 10 reliability bins (Murphy 1973; the q_brier_score /
    * q_calibration_bins family completed): REL − RES + UNC reassembles
    * the binned Brier, ECE is the bin-weighted |forecast − observed| gap
    * — the one-number calibration readouts a model gate alarms on. The
    * corpus pass is the same min-max + bin assignment as
    * q_calibration_bins; everything after runs on the 10-row bin table
    * with the grand rate as a 1-row broadcast. Bin means are rounded to
    * 6 dp BEFORE the squared/absolute differences (the q_brier_score
    * square-identical-operands contract).
    */
  private val brierDecomp: QueryDef = {
    val rel = "sum(nb * (sb - ob) * (sb - ob)) / sum(nb)"
    val res = "sum(nb * (ob - obar) * (ob - obar)) / sum(nb)"
    val ece = "sum(nb * abs(sb - ob)) / sum(nb)"
    QueryDef(
      "q_brier_decomp",
      (spark, sfDir) => {
        val e = Tables.embeddings(spark, sfDir)
          .select(
            element_at(col("embedding"), 1).cast("double").as("score"),
            when(col("label") === 0, 1L).otherwise(0L).as("pos"))
        val bounds = e.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
        val binned = e.join(broadcast(bounds))
          .withColumn("p", Ql.r((col("score") - col("lo")) / (col("hi") - col("lo")), 6))
          .withColumn("bin",
            least(floor((col("score") - col("lo")) * lit(10.0)
              / (col("hi") - col("lo"))), lit(9.0)).cast("long"))
        val bins = binned.groupBy("bin")
          .agg(count(lit(1)).as("nb"),
            Ql.r(avg(col("p")), 6).as("sb"),
            Ql.r(avg(col("pos").cast("double")), 6).as("ob"))
        val grand = binned.agg(Ql.r(avg(col("pos").cast("double")), 6).as("obar"))
        bins.crossJoin(broadcast(grand))
          .agg(
            sum("nb").as("n"),
            Ql.r(expr(ece), 6).as("ece"),
            Ql.r(expr(rel), 6).as("reliability"),
            Ql.r(expr(res), 6).as("resolution"),
            Ql.r(expr("max(obar) * (1.0 - max(obar))"), 6).as("uncertainty"))
      },
      Some(s"""
        WITH e AS (
          SELECT CAST(embedding[1] AS DOUBLE) AS score,
                 CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
          FROM embeddings),
        b AS (SELECT min(score) AS lo, max(score) AS hi FROM e),
        binned AS (
          SELECT pos, ${Ql.R("(score - lo) / (hi - lo)", 6)} AS p,
                 CAST(least(floor((score - lo) * 10.0 / (hi - lo)), 9.0) AS BIGINT) AS bin
          FROM e, b),
        bins AS (
          SELECT bin, CAST(count(*) AS BIGINT) AS nb,
                 ${Ql.R("avg(p)", 6)} AS sb,
                 ${Ql.R("avg(CAST(pos AS DOUBLE))", 6)} AS ob
          FROM binned GROUP BY 1),
        g AS (SELECT ${Ql.R("avg(CAST(pos AS DOUBLE))", 6)} AS obar FROM binned)
        SELECT CAST(sum(nb) AS BIGINT) AS n,
               ${Ql.R(ece, 6)} AS ece,
               ${Ql.R(rel, 6)} AS reliability,
               ${Ql.R(res, 6)} AS resolution,
               ${Ql.R("max(obar) * (1.0 - max(obar))", 6)} AS uncertainty
        FROM bins CROSS JOIN g
      """))
  }

  /** Spearman rank correlation between the units-sold and revenue
    * rankings of the part catalog (the q_rrf_fusion pair, asked "how
    * much do these two orderings even agree") via the closed form
    * ρ = 1 − 6Σd²/(n(n²−1)) over exact integer ranks. Ranks are global
    * ordinals with a part-key tiebreak (total order, so the no-ties
    * closed form is exact) assigned by the two-level pattern with
    * HIGHEST-SET-BIT buckets — ≤64 bucket rows at ANY scale (the
    * q_degree_hist log₂ trick), offsets from the 64-row histogram,
    * in-bucket distributed windows. Σd² is an exact BIGINT; only the
    * final ρ divides in doubles via shared text. A log₂ bucket can get
    * catalog-heavy under skew — the documented trade for a provably
    * bounded histogram (same class as the n_chars range buckets).
    */
  private val spearman: QueryDef = {
    val rho = "1.0 - 6.0 * sd2 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0))"
    QueryDef(
      "q_spearman",
      (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val parts = Tables.lineitem(spark, sfDir)
          .groupBy("l_partkey")
          .agg(sum(col("l_quantity").cast("long")).as("q"),
            sum(Ql.r(col("l_extendedprice") * 100, 0).cast("long")).as("r"))
          .checkpointed // feeds both rank assignments
        def ranks(metric: String, rank: String) = {
          val withB = parts.withColumn("bkt", expr(s"length(bin($metric))"))
          val offsets = withB.groupBy("bkt").agg(count(lit(1)).as("cnt"))
            .withColumn("off", coalesce(sum(col("cnt")).over(
              Window.orderBy("bkt")
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
            .select("bkt", "off")
          val inB = Window.partitionBy("bkt").orderBy(metric, "l_partkey")
          withB.join(broadcast(offsets), "bkt")
            .withColumn(rank, col("off") + row_number().over(inB))
            .select("l_partkey", rank)
        }
        ranks("q", "rq").join(ranks("r", "rr"), "l_partkey")
          .selectExpr("rq - rr AS d")
          .agg(count(lit(1)).as("n"), sum(expr("d * d")).as("sd2"))
          .selectExpr("n", "sd2", s"${Ql.R(rho, 6)} AS spearman_rho")
      },
      Some(s"""
        WITH parts AS (
          SELECT l_partkey,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
                 CAST(sum(CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT)) AS BIGINT) AS r
          FROM lineitem GROUP BY 1),
        rq AS (SELECT l_partkey,
                      row_number() OVER (ORDER BY q, l_partkey) AS rq FROM parts),
        rr AS (SELECT l_partkey,
                      row_number() OVER (ORDER BY r, l_partkey) AS rr FROM parts),
        d AS (SELECT rq - rr AS d FROM rq JOIN rr USING (l_partkey)),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(d * d) AS BIGINT) AS sd2 FROM d)
        SELECT n, sd2, ${Ql.R(rho, 6)} AS spearman_rho FROM a
      """))
  }

  /** Kendall's τ over the HEADS of the two rankings — the top-200 by
    * units and by revenue, intersected, then every pair of common
    * items checked for concordance across the two metrics. The heads
    * are TakeOrdered k-row frames, so the pair join is ≤ C(200,2) —
    * bounded by the report size, not the catalog (exact τ over the full
    * catalog is the all-pairs trap; the head is where rank agreement
    * matters for a merchandising page anyway). Metric orders carry the
    * part-key tiebreak (total orders ⇒ no tie terms), all counts exact
    * integers, τ = (C − D)/(m(m−1)/2) one rounded divide.
    */
  private val kendallHead = QueryDef(
    "q_kendall_head",
    (spark, sfDir) => {
      val parts = Tables.lineitem(spark, sfDir)
        .groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"),
          sum(Ql.r(col("l_extendedprice") * 100, 0).cast("long")).as("r"))
        .checkpointed
      val topQ = parts.orderBy(col("q").desc, col("l_partkey")).limit(200)
      val topR = parts.orderBy(col("r").desc, col("l_partkey")).limit(200)
      val common = topQ.select("l_partkey", "q", "r")
        .join(topR.select("l_partkey"), "l_partkey")
      val pairs = common.as("a").join(broadcast(common.as("b")),
          col("a.l_partkey") < col("b.l_partkey"))
        .select(
          // strict orders with id tiebreak: (q, key) and (r, key)
          (((col("a.q") > col("b.q")) ||
            (col("a.q") === col("b.q") && col("a.l_partkey") > col("b.l_partkey")))
            === ((col("a.r") > col("b.r")) ||
            (col("a.r") === col("b.r") && col("a.l_partkey") > col("b.l_partkey"))))
            .cast("long").as("concordant"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum("concordant").as("c"))
        .selectExpr("n_pairs", "c", "n_pairs - c AS d",
          s"${Ql.R("(CAST(c AS DOUBLE) - (n_pairs - c)) / n_pairs", 6)} AS kendall_tau")
    },
    Some(s"""
      WITH parts AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(sum(CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT)) AS BIGINT) AS r
        FROM lineitem GROUP BY 1),
      topq AS (SELECT l_partkey, q, r FROM parts
               ORDER BY q DESC, l_partkey LIMIT 200),
      topr AS (SELECT l_partkey FROM parts
               ORDER BY r DESC, l_partkey LIMIT 200),
      common AS (SELECT topq.* FROM topq JOIN topr USING (l_partkey)),
      pairs AS (
        SELECT CASE WHEN ((a.q > b.q) OR (a.q = b.q AND a.l_partkey > b.l_partkey))
                       = ((a.r > b.r) OR (a.r = b.r AND a.l_partkey > b.l_partkey))
                    THEN 1 ELSE 0 END AS concordant
        FROM common a JOIN common b ON a.l_partkey < b.l_partkey)
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(concordant) AS BIGINT) AS c,
             CAST(count(*) - sum(concordant) AS BIGINT) AS d,
             ${Ql.R("(CAST(sum(concordant) AS DOUBLE) - (count(*) - sum(concordant))) / count(*)", 6)} AS kendall_tau
      FROM pairs
    """))

  /** Isotonic (monotone) calibration of the q_calibration_bins score via
    * pool-adjacent-violators, computed by the min-max identity
    * (Ayer et al. 1955; Robertson–Wright–Dykstra 1988):
    * iso_k = max_{i≤k} min_{j≥k} mean(y over bins i..j). The corpus work
    * is ONE bin aggregation (the q_calibration_bins shape); PAV itself
    * runs entirely on the ≤10-row bin table — cumulative integer sums
    * over the bins, then an i≤k≤j triple join of three broadcast copies.
    * Every bin-range mean is an exact BIGINT/BIGINT IEEE division, and
    * min/max are order-insensitive, so the engines agree bit-for-bit
    * before the final display rounding. At 100 TB the bin table is still
    * 10 rows — the triple join never sees the corpus.
    */
  private val isotonicCalibration = QueryDef(
    "q_isotonic_calibration",
    (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
        .select(
          element_at(col("embedding"), 1).cast("double").as("score"),
          when(col("label") === 0, 1L).otherwise(0L).as("pos"))
      val bounds = e.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
      val wc = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = e.join(broadcast(bounds))
        .withColumn("bin",
          least(floor((col("score") - col("lo")) * lit(10.0)
            / (col("hi") - col("lo"))), lit(9.0)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pos").as("y"),
          Ql.r(avg(col("score")), 4).as("mean_score"))
        .withColumn("cw", sum("n").over(wc))
        .withColumn("cy", sum("y").over(wc))
        .checkpointed // ≤10 rows, consumed by three join arms
      val i = cum.select(col("bin").as("bi"),
        (col("cw") - col("n")).as("wi"), (col("cy") - col("y")).as("yi"))
      val k = cum.select(col("bin").as("bk"))
      val j = cum.select(col("bin").as("bj"),
        col("cw").as("wj"), col("cy").as("yj"))
      val iso = i.crossJoin(broadcast(k)).filter(col("bi") <= col("bk"))
        .crossJoin(broadcast(j)).filter(col("bk") <= col("bj"))
        .withColumn("m",
          (col("yj") - col("yi")).cast("double") / (col("wj") - col("wi")))
        .groupBy("bk", "bi").agg(min("m").as("m1"))
        .groupBy("bk").agg(max("m1").as("iso"))
      cum.join(iso, col("bin") === col("bk"))
        .select(col("bin"), col("n"), col("mean_score"),
          Ql.r(col("y").cast("double") / col("n"), 4).as("raw_rate"),
          Ql.r(col("iso"), 4).as("iso_rate"))
        .orderBy("bin")
    },
    Some(s"""
      WITH e AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS score,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        FROM embeddings),
      b AS (SELECT min(score) AS lo, max(score) AS hi FROM e),
      bins AS (
        SELECT CAST(least(floor((score - lo) * 10.0 / (hi - lo)), 9.0) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS y,
               ${Ql.R("avg(score)", 4)} AS mean_score
        FROM e, b GROUP BY 1),
      cum AS (
        SELECT bin, n, y, mean_score,
               CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cw,
               CAST(sum(y) OVER (ORDER BY bin) AS BIGINT) AS cy
        FROM bins),
      tri AS (
        SELECT k.bin AS bk, i.bin AS bi,
               min(CAST(j.cy - (i.cy - i.y) AS DOUBLE)
                   / (j.cw - (i.cw - i.n))) AS m1
        FROM cum i, cum k, cum j
        WHERE i.bin <= k.bin AND k.bin <= j.bin
        GROUP BY 1, 2),
      iso AS (SELECT bk AS bin, max(m1) AS iso FROM tri GROUP BY 1)
      SELECT c.bin, c.n, c.mean_score,
             ${Ql.R("CAST(c.y AS DOUBLE) / c.n", 4)} AS raw_rate,
             ${Ql.R("iso.iso", 4)} AS iso_rate
      FROM cum c JOIN iso ON c.bin = iso.bin
      ORDER BY c.bin
    """))

  /** Bradley–Terry pairwise-strength ratings (Bradley & Terry 1952;
    * MM algorithm per Hunter 2004, public) — the model behind
    * pairwise-preference leaderboards: players are event types, and each
    * calendar day each type pair plays one "match" won by the type with
    * the higher daily event count (equal counts = no game). Win/game
    * totals come from ONE daily aggregation plus a per-day |types|²
    * pairing (bounded fanout: the type vocabulary, not the event
    * volume); the MM fixed-point p_i ← W_i / Σ_j n_ij/(p_i+p_j) then
    * iterates 8 rounds over the |types|-row rating table with per-round
    * 7 dp rounding in BOTH engines (the q_pagerank drift quench) and
    * localCheckpoint per round (lineage truncation, fact #13).
    * Identifiability: ratings are anchored to the alphabetically-first
    * type (a single division — no float-sum normalizer whose addition
    * order could diverge the engines). Oracle = 8 unrolled CTE rounds
    * generated from one Scala template; the multiply-referenced CTEs are
    * AS MATERIALIZED — DuckDB inlines CTEs per reference, and the pi/pj
    * DOUBLE reference to the previous round would otherwise expand into
    * 2^rounds re-evaluations of the whole chain (EMFILE on the source
    * parquet before it even got slow; the q_sql_recursive
    * materialize-first lesson, sharpened).
    */
  private val btIters = 8

  private val bradleyTerry = QueryDef(
    "q_bradley_terry",
    (spark, sfDir) => {
      val daily = Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val pw = daily.as("a").join(daily.as("b"), "day")
        .filter(col("a.event_type") =!= col("b.event_type") &&
          col("a.c") =!= col("b.c"))
        .groupBy(col("a.event_type").as("i"), col("b.event_type").as("j"))
        .agg(count(lit(1)).as("n"),
          sum((col("a.c") > col("b.c")).cast("long")).as("w"))
        .checkpointed // |types|² rows drive every MM round
      val wt = pw.groupBy("i")
        .agg(sum("w").as("wins"), sum("n").as("games"))
        .checkpointed
      val anchorType = wt.agg(min("i").as("at"))
      var r = wt.select(col("i").as("type"), lit(1.0).as("p"))
        .checkpointed
      for (_ <- 1 to btIters) {
        val den = pw
          .join(r.as("pi"), col("i") === col("pi.type"))
          .join(r.as("pj"), col("j") === col("pj.type"))
          .groupBy("i")
          .agg(sum(col("n") / (col("pi.p") + col("pj.p"))).as("den"))
        val u = wt.join(den, "i")
          .select(col("i").as("type"),
            (col("wins").cast("double") / col("den")).as("p"))
        val anchor = u.join(broadcast(anchorType), col("type") === col("at"))
          .select(col("p").as("ap"))
        // r18: LAZY per-round checkpoints — the plan still truncates to a
        // LogicalRDD leaf per round (the fact-#13 constraint holds; this
        // is NOT the falsified no-checkpoint cadence experiment, which
        // fused un-truncated plans), but the |types|-row materialization
        // job per round is deferred into the next round's stage work.
        r = truncate(u.crossJoin(broadcast(anchor))
          .select(col("type"),
            Ql.r(col("p") / greatest(col("ap"), lit(1e-12)), 7).as("p")))
      }
      wt.join(r, col("i") === col("type"))
        .select(col("i").as("event_type"), col("games"), col("wins"),
          Ql.r(col("p"), 4).as("bt_rating"))
        .orderBy(col("bt_rating").desc, col("event_type"))
    },
    Some {
      val rounds = (1 to btIters).map { t =>
        s"""
      d$t AS (
        SELECT e.i AS type, sum(e.n / (pi.p + pj.p)) AS den
        FROM pw e
        JOIN r${t - 1} pi ON e.i = pi.type
        JOIN r${t - 1} pj ON e.j = pj.type
        GROUP BY 1),
      u$t AS MATERIALIZED (
        SELECT w.i AS type, CAST(w.wins AS DOUBLE) / d.den AS p
        FROM wt w JOIN d$t d ON w.i = d.type),
      a$t AS (SELECT p AS ap FROM u$t JOIN anch ON u$t.type = anch.at),
      r$t AS MATERIALIZED (
        SELECT type, ${Ql.R("p / greatest(ap, 1e-12)", 7)} AS p
        FROM u$t CROSS JOIN a$t)"""
      }.mkString(",")
      s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
        FROM events GROUP BY 1, 2),
      pw AS MATERIALIZED (
        SELECT a.event_type AS i, b.event_type AS j,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS BIGINT) AS w
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.event_type <> b.event_type AND a.c <> b.c
        GROUP BY 1, 2),
      wt AS MATERIALIZED (
        SELECT i, CAST(sum(w) AS BIGINT) AS wins,
               CAST(sum(n) AS BIGINT) AS games
        FROM pw GROUP BY 1),
      anch AS (SELECT min(i) AS at FROM wt),
      r0 AS MATERIALIZED (SELECT i AS type, 1.0 AS p FROM wt),$rounds
      SELECT w.i AS event_type, w.games, w.wins,
             ${Ql.R("r.p", 4)} AS bt_rating
      FROM wt w JOIN r$btIters r ON w.i = r.type
      ORDER BY bt_rating DESC, event_type
    """
    })

  override def defs: Seq[QueryDef] =
    Seq(auc, gini, ndcg, winsorize, mrr, calibrationBins, rrfFusion,
      decileLift, kappaAgreement, brierScore, avgPrecision, ksScores,
      woeIv, wilsonCi, brierDecomp, spearman, kendallHead,
      isotonicCalibration, bradleyTerry)
}
