package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Product-analytics operators over the event stream — the RFM/engagement
  * battery a growth team runs daily, built on the repo's scale idioms:
  * global ranks come from the two-level HIGHEST-SET-BIT bucket pattern
  * (≤64 histogram rows at any scale, q_spearman's trick — never a
  * single-partition window over users), distributions come from bounded
  * histograms, and every reported number is exact-integer or
  * shared-formula-rounded for the cross-engine gate.
  */
object ProductQueries extends QueryModule {

  /** Global dense ordinals (1..n, total order with an id tiebreak) for a
    * positive BIGINT metric column via highest-set-bit buckets: ≤64
    * bucket rows feed a broadcast offset histogram; the only window over
    * the input is partitioned by bucket. Shared by the RFM and Lorenz
    * sweeps below (one definition, like EvalQueries.bucketOffsets).
    */
  private[graft] def bitRanks(df: DataFrame, metric: String, idCol: String,
      rankName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withB = df.withColumn("bkt", expr(s"length(bin($metric))"))
    val offsets = withB.groupBy("bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "off")
    val inB = Window.partitionBy("bkt").orderBy(metric, idCol)
    withB.join(broadcast(offsets), "bkt")
      .withColumn(rankName, col("off") + row_number().over(inB))
      .select(idCol, rankName)
  }

  // ---------------------------------------------------------------- RFM

  /** Quintile-scored RFM segmentation of the purchase base —
    * recency/frequency/monetary codes 1-5 (5 = best: most recent, most
    * frequent, highest spend) where the CUTS are data-driven population
    * quintiles, the complement of q_rfm_segments' fixed business bands
    * (that one answers "who is in OUR segments", this one "how does the
    * population split evenly"). Per-user aggregates (last-purchase
    * epoch-µs "freshness", purchase count, exact cent spend) rank
    * through [[bitRanks]]; quintile = ((5·(rank−1)) div n) + 1 — exact
    * integer arithmetic against the 1-row user-count broadcast, no
    * float quantile. Freshness (not day-recency) is the recency metric
    * so rank-ascending uniformly means score-ascending. Reports each
    * occupied (r,f,m) cell with its size and average spend.
    */
  private val rfmSegments = QueryDef(
    "q_rfm_quintiles",
    (spark, sfDir) => {
      val u = Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max(unix_micros(col("ts"))).as("fresh"),
          count(lit(1)).as("freq"),
          sum(Ql.r(col("value") * 100, 0).cast("long")).as("cents"))
        .checkpointed // feeds three rank sweeps
      val n = u.agg(count(lit(1)).as("n"))
      val q = "((5 * (%s - 1)) div n) + 1"
      u.join(bitRanks(u, "fresh", "user_id", "rk_r"), "user_id")
        .join(bitRanks(u, "freq", "user_id", "rk_f"), "user_id")
        .join(bitRanks(u, "cents", "user_id", "rk_m"), "user_id")
        .crossJoin(broadcast(n))
        .selectExpr("cents",
          s"${q.format("rk_r")} AS r_score",
          s"${q.format("rk_f")} AS f_score",
          s"${q.format("rk_m")} AS m_score")
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"),
          sum("cents").as("seg_cents"))
        .selectExpr("r_score", "f_score", "m_score", "n_users",
          s"${Ql.R("CAST(seg_cents AS DOUBLE) / n_users / 100.0", 2)} AS avg_spend")
        .orderBy("r_score", "f_score", "m_score")
    },
    Some(s"""
      WITH u AS (
        SELECT user_id, epoch_us(max(ts)) AS fresh,
               count(*) AS freq,
               CAST(sum(CAST(${Ql.R("value * 100", 0)} AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      n AS (SELECT count(*) AS n FROM u),
      ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY fresh, user_id) AS rk_r,
               row_number() OVER (ORDER BY freq, user_id) AS rk_f,
               row_number() OVER (ORDER BY cents, user_id) AS rk_m
        FROM u),
      scored AS (
        SELECT cents,
               ((5 * (rk_r - 1)) // n) + 1 AS r_score,
               ((5 * (rk_f - 1)) // n) + 1 AS f_score,
               ((5 * (rk_m - 1)) // n) + 1 AS m_score
        FROM ranked CROSS JOIN n)
      SELECT CAST(r_score AS BIGINT) AS r_score,
             CAST(f_score AS BIGINT) AS f_score,
             CAST(m_score AS BIGINT) AS m_score,
             count(*) AS n_users,
             ${Ql.R("CAST(sum(cents) AS DOUBLE) / count(*) / 100.0", 2)} AS avg_spend
      FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """))

  // ---------------------------------------------------------------- power-user curve

  /** Power-user curve: how many users were active on ≥ d distinct days —
    * the L28-style engagement distribution. Per-user distinct-day
    * counts collapse onto a histogram bounded by the calendar (≤ days
    * in window rows); the ≥-cumulative runs over THAT histogram. All
    * counts exact; percentages are one rounded divide.
    */
  private val powerUserCurve = QueryDef(
    "q_power_user_curve",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(countDistinct(to_date(col("ts"))).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_users"))
      val tot = hist.agg(sum("n_users").as("nt"))
      val w = Window.orderBy(col("d").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum_ge", sum("n_users").over(w))
        .crossJoin(broadcast(tot))
        .selectExpr("d AS active_days", "n_users",
          s"${Ql.R("100.0 * n_users / nt", 4)} AS pct_users",
          "cum_ge AS users_ge",
          s"${Ql.R("100.0 * cum_ge / nt", 4)} AS pct_ge")
        .orderBy("active_days")
    },
    Some(s"""
      WITH hist AS (
        SELECT d, count(*) AS n_users FROM (
          SELECT user_id, count(DISTINCT CAST(ts AS DATE)) AS d
          FROM events GROUP BY 1)
        GROUP BY 1),
      c AS (
        SELECT d, n_users,
               CAST(sum(n_users) OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ge,
               (SELECT CAST(sum(n_users) AS BIGINT) FROM hist) AS nt
        FROM hist)
      SELECT CAST(d AS BIGINT) AS active_days, n_users,
             ${Ql.R("100.0 * n_users / nt", 4)} AS pct_users,
             cum_ge AS users_ge,
             ${Ql.R("100.0 * cum_ge / nt", 4)} AS pct_ge
      FROM c ORDER BY 1
    """))

  // ---------------------------------------------------------------- 3-step paths

  /** Top 3-step behavioral paths — the event-type trigram counts behind
    * "what do users do next" sankeys. Per-user lead windows (user-keyed
    * — fully distributed, ≤ per-user event count per partition slice)
    * emit each consecutive type triple; the count table is bounded by
    * |types|³; top-20 by support with full-path tiebreak plans as
    * TakeOrderedAndProject.
    */
  private val eventPaths3 = QueryDef(
    "q_event_paths3",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("t1"))
        .withColumn("t2", lead("t1", 1).over(w))
        .withColumn("t3", lead("t1", 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    },
    Some("""
      WITH seq AS (
        SELECT user_id, event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT t1, t2, t3, count(*) AS n
      FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY 1, 2, 3
      ORDER BY n DESC, t1, t2, t3 LIMIT 20
    """))

  // ---------------------------------------------------------------- session entropy

  /** Behavioral diversity: Shannon entropy of each user's event-type mix,
    * reported as average entropy per activity band (highest-set-bit
    * buckets of event count — bounded bands, and summing H across a
    * band's users before rounding absorbs per-term libm-ln ulps, the
    * q_lm_perplexity hygiene). H = Σ (c/n)·ln(n/c) over the per-user
    * type counts — exact rational inputs to each ln.
    */
  private val sessionEntropy = QueryDef(
    "q_session_entropy",
    (spark, sfDir) => {
      val perType = Tables.events(spark, sfDir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      val perUser = perType
        .withColumn("n", sum("c").over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
        .groupBy("user_id")
        .agg(max("n").as("n"),
          sum(expr("(CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c)")).as("h"))
      perUser
        .withColumn("band", expr("length(bin(n))"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_users"),
          min("n").as("min_events"), max("n").as("max_events"),
          Ql.r(avg("h"), 4).as("avg_entropy"))
        .selectExpr("CAST(band AS INT) AS band", "n_users", "min_events",
          "max_events", "avg_entropy")
        .orderBy("band")
    },
    Some(s"""
      WITH pt AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      pn AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM pt GROUP BY 1),
      pu AS (
        SELECT pt.user_id, max(n) AS n,
               sum((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c)) AS h
        FROM pt JOIN pn ON pt.user_id = pn.user_id GROUP BY 1)
      SELECT CAST(length(bin(n)) AS INT) AS band,
             count(*) AS n_users,
             CAST(min(n) AS BIGINT) AS min_events,
             CAST(max(n) AS BIGINT) AS max_events,
             ${Ql.R("avg(h)", 4)} AS avg_entropy
      FROM pu GROUP BY 1 ORDER BY 1
    """))

  // ---------------------------------------------------------------- Lorenz curve

  /** Lorenz concentration curve of customer spend by spend decile — the
    * "what share of revenue do the top deciles hold" readout (the
    * curve whose area q_gini summarizes; deciles are what the
    * dashboard shows). Customer ranks come from [[bitRanks]]; decile =
    * ((10·(rank−1)) div n) + 1 exact; per-decile cent sums are exact
    * BIGINTs, shares one rounded divide, and the cumulative share runs
    * over the 10-row decile table.
    */
  private val lorenzCurve = QueryDef(
    "q_lorenz_curve",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val cust = Tables.orders(spark, sfDir)
        .groupBy("o_custkey")
        .agg(sum(Ql.r(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        .checkpointed
      val n = cust.agg(count(lit(1)).as("n"), sum("cents").as("tot"))
      val dec = cust.join(bitRanks(cust, "cents", "o_custkey", "rk"), "o_custkey")
        .crossJoin(broadcast(n))
        .selectExpr("cents", "tot", "((10 * (rk - 1)) div n) + 1 AS decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("dec_cents"),
          max("tot").as("tot"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec
        .withColumn("cum_cents", sum("dec_cents").over(w))
        .selectExpr("decile", "n_cust",
          s"${Ql.R("CAST(dec_cents AS DOUBLE) / 100.0", 2)} AS spend",
          s"${Ql.R("100.0 * dec_cents / tot", 4)} AS share_pct",
          s"${Ql.R("100.0 * cum_cents / tot", 4)} AS cum_share_pct")
        .orderBy("decile")
    },
    Some(s"""
      WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(${Ql.R("o_totalprice * 100", 0)} AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      n AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS tot FROM cust),
      ranked AS (
        SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS rk
        FROM cust),
      dec AS (
        SELECT ((10 * (rk - 1)) // n) + 1 AS decile, count(*) AS n_cust,
               CAST(sum(cents) AS BIGINT) AS dec_cents, max(tot) AS tot
        FROM ranked CROSS JOIN n GROUP BY 1),
      c AS (
        SELECT decile, n_cust, dec_cents, tot,
               CAST(sum(dec_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        FROM dec)
      SELECT CAST(decile AS BIGINT) AS decile, n_cust,
             ${Ql.R("CAST(dec_cents AS DOUBLE) / 100.0", 2)} AS spend,
             ${Ql.R("100.0 * dec_cents / tot", 4)} AS share_pct,
             ${Ql.R("100.0 * cum_cents / tot", 4)} AS cum_share_pct
      FROM c ORDER BY 1
    """))

  /** Qini uplift curve — the causal complement of the lift chart: for a
    * targeting score (per-user engagement here), how many INCREMENTAL
    * conversions does treating the top-k score deciles buy over the
    * control arm (Radcliffe's Qini: cumᵀconv − cumᶜconv·cumᵀn/cumᶜn),
    * against the random-targeting diagonal. Arms come from the
    * q_ab_test deterministic hash split; score deciles from the shared
    * [[bitRanks]] two-level ordinals (exact integer decile
    * arithmetic); cumulative sums run top-decile-first over the 10-row
    * decile table. Everything until the two rounded divides is exact
    * integer counting.
    */
  private val qiniUplift = QueryDef(
    "q_qini_uplift",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("score"),
          max((col("event_type") === "purchase" && col("value") > 180).cast("long"))
            .as("conv"))
        .withColumn("arm",
          when(expr(SamplingQueries.bucketExpr("user_id")) < 50, "T").otherwise("C"))
        .checkpointed
      val n = u.agg(count(lit(1)).as("n"))
      val dec = u.join(bitRanks(u, "score", "user_id", "rk"), "user_id")
        .crossJoin(broadcast(n))
        .selectExpr("arm", "conv", "((10 * (rk - 1)) div n) + 1 AS decile")
        .groupBy("decile")
        .agg(sum(when(col("arm") === "T", 1L).otherwise(0L)).as("nt"),
          sum(when(col("arm") === "T", col("conv")).otherwise(0L)).as("ct"),
          sum(when(col("arm") === "C", 1L).otherwise(0L)).as("nc"),
          sum(when(col("arm") === "C", col("conv")).otherwise(0L)).as("cc"))
      val w = Window.orderBy(col("decile").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = dec.agg(sum("nt").as("tnt"), sum("ct").as("tct"),
        sum("nc").as("tnc"), sum("cc").as("tcc"))
      dec
        .withColumn("cnt", sum("nt").over(w)).withColumn("cct", sum("ct").over(w))
        .withColumn("cnc", sum("nc").over(w)).withColumn("ccc", sum("cc").over(w))
        .crossJoin(broadcast(tot))
        .selectExpr("decile", "cnt", "cct", "cnc", "ccc",
          s"${Ql.R("cct - ccc * (CAST(cnt AS DOUBLE) / cnc)", 4)} AS qini",
          s"""${Ql.R("""(tct - tcc * (CAST(tnt AS DOUBLE) / tnc))
            * (CAST(cnt + cnc AS DOUBLE) / (tnt + tnc))""", 4)} AS qini_random""")
        .orderBy(col("decile").desc)
    },
    Some(s"""
      WITH u AS (
        SELECT user_id, count(*) AS score,
               max(CASE WHEN event_type = 'purchase' AND value > 180 THEN 1 ELSE 0 END) AS conv,
               CASE WHEN ${Ql.Md5PrefixLong("CAST(user_id AS VARCHAR)", 4)} % 100 < 50
                 THEN 'T' ELSE 'C' END AS arm
        FROM events GROUP BY user_id),
      n AS (SELECT count(*) AS n FROM u),
      ranked AS (
        SELECT arm, conv,
               row_number() OVER (ORDER BY score, user_id) AS rk
        FROM u),
      dec AS (
        SELECT ((10 * (rk - 1)) // n) + 1 AS decile,
               CAST(sum(CASE WHEN arm = 'T' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
               CAST(sum(CASE WHEN arm = 'T' THEN conv ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN arm = 'C' THEN 1 ELSE 0 END) AS BIGINT) AS nc,
               CAST(sum(CASE WHEN arm = 'C' THEN conv ELSE 0 END) AS BIGINT) AS cc
        FROM ranked CROSS JOIN n GROUP BY 1),
      tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tnt, CAST(sum(ct) AS BIGINT) AS tct,
                     CAST(sum(nc) AS BIGINT) AS tnc, CAST(sum(cc) AS BIGINT) AS tcc
              FROM dec),
      c AS (
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(sum(nt) OVER win AS BIGINT) AS cnt,
               CAST(sum(ct) OVER win AS BIGINT) AS cct,
               CAST(sum(nc) OVER win AS BIGINT) AS cnc,
               CAST(sum(cc) OVER win AS BIGINT) AS ccc
        FROM dec
        WINDOW win AS (ORDER BY decile DESC ROWS UNBOUNDED PRECEDING))
      SELECT decile, cnt, cct, cnc, ccc,
             ${Ql.R("cct - ccc * (CAST(cnt AS DOUBLE) / cnc)", 4)} AS qini,
             ${Ql.R("""(tct - tcc * (CAST(tnt AS DOUBLE) / tnc))
               * (CAST(cnt + cnc AS DOUBLE) / (tnt + tnc))""", 4)} AS qini_random
      FROM c CROSS JOIN tot
      ORDER BY decile DESC
    """))

  /** ABC/XYZ inventory segmentation — the supply-chain double cut:
    * ABC classes by cumulative revenue share (A = the head items
    * covering 80% of revenue, B to 95%, C the tail) and XYZ classes by
    * demand variability (population CV of weekly units: X < 0.5
    * steady, Y < 1.0, Z erratic). The ABC boundary is decided by exact
    * integer cross-multiplication on the ASCENDING cumulative revenue
    * (item is A ⟺ the revenue strictly above it in the descending
    * order is < 80% of total ⟺ 5·cum_asc > total): the cumulative
    * itself comes from a two-level sweep — per-bucket revenue sums
    * over the ≤64-row highest-set-bit histogram plus in-bucket running
    * sums — never a single-partition window. Weekly CVs count unsold
    * weeks as zero demand via the 1-row week-count broadcast. Output:
    * the 3×3 class grid with item counts and revenue share.
    */
  private val abcXyz = QueryDef(
    "q_abc_xyz",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("q"),
          Ql.r(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          weekofyear(col("o_orderdate")).as("wk"), year(col("o_orderdate")).as("yr"))
      // ONE pass over the join feeds all three aggregates (r17 session 2):
      // the old shape checkpointed the raw join and re-aggregated it three
      // times (week roster, per-part revenue, weekly CV sums); the
      // (part, yr, wk) rollup is the common prefix of all three, so
      // checkpoint THAT (weekly-cell-sized, not lineitem-sized) and derive
      // each from it. rev = Σ cents = Σ weekly Σ cents exactly (BIGINT).
      val wk0 = li.groupBy("l_partkey", "yr", "wk")
        .agg(sum("q").as("wq"), sum("cents").as("wcents"))
        .checkpointed
      val weeks = wk0.select("yr", "wk").distinct().agg(count(lit(1)).as("nw"))
      val parts = wk0.groupBy("l_partkey").agg(sum("wcents").as("rev"))
      val wkly = wk0.groupBy("l_partkey")
        .agg(sum("wq").as("sq"), sum(expr("wq * wq")).as("sq2"))
      // two-level ascending cumulative revenue: bucket revenue sums +
      // in-bucket running sums, offsets from the <=64-row histogram
      val withB = parts.withColumn("bkt", expr("length(bin(rev))"))
      val offs = withB.groupBy("bkt").agg(sum("rev").as("brev"))
        .withColumn("off", coalesce(sum(col("brev")).over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      val inB = Window.partitionBy("bkt").orderBy("rev", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = parts.agg(sum("rev").as("trev"))
      val classed = withB.join(broadcast(offs), "bkt")
        .withColumn("cum", col("off") + sum("rev").over(inB))
        .crossJoin(broadcast(tot))
        .join(wkly, "l_partkey")
        .crossJoin(broadcast(weeks))
        .selectExpr("l_partkey", "rev",
          "CASE WHEN 5 * cum > trev THEN 'A' WHEN 20 * cum > trev THEN 'B' ELSE 'C' END AS abc",
          // population mean/var over ALL weeks (unsold weeks = 0 demand)
          "CAST(sq AS DOUBLE) / nw AS mu",
          "CAST(sq2 AS DOUBLE) / nw - (CAST(sq AS DOUBLE) / nw) * (CAST(sq AS DOUBLE) / nw) AS v")
        .selectExpr("l_partkey", "rev", "abc",
          "CASE WHEN sqrt(v) / mu < 0.5 THEN 'X' WHEN sqrt(v) / mu < 1.0 THEN 'Y' ELSE 'Z' END AS xyz")
      classed.groupBy("abc", "xyz")
        .agg(count(lit(1)).as("n_parts"), sum("rev").as("rev"))
        .crossJoin(broadcast(tot))
        .selectExpr("abc", "xyz", "n_parts",
          s"${Ql.R("100.0 * rev / trev", 4)} AS revenue_pct")
        .orderBy("abc", "xyz")
    },
    Some(s"""
      WITH li AS (
        SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
               CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT) AS cents,
               weekofyear(o_orderdate) AS wk, year(o_orderdate) AS yr
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      weeks AS (SELECT count(*) AS nw FROM (SELECT DISTINCT yr, wk FROM li)),
      parts AS (
        SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS rev
        FROM li GROUP BY 1),
      wkly AS (
        SELECT l_partkey, CAST(sum(wq) AS BIGINT) AS sq,
               CAST(sum(wq * wq) AS BIGINT) AS sq2
        FROM (SELECT l_partkey, yr, wk, CAST(sum(q) AS BIGINT) AS wq
              FROM li GROUP BY 1, 2, 3)
        GROUP BY 1),
      tot AS (SELECT CAST(sum(rev) AS BIGINT) AS trev FROM parts),
      cum AS (
        SELECT l_partkey, rev,
               CAST(sum(rev) OVER (ORDER BY rev, l_partkey
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM parts),
      classed AS (
        SELECT c.l_partkey, c.rev,
               CASE WHEN 5 * cum > trev THEN 'A'
                    WHEN 20 * cum > trev THEN 'B' ELSE 'C' END AS abc,
               CASE WHEN sqrt(CAST(sq2 AS DOUBLE) / nw
                        - (CAST(sq AS DOUBLE) / nw) * (CAST(sq AS DOUBLE) / nw))
                      / (CAST(sq AS DOUBLE) / nw) < 0.5 THEN 'X'
                    WHEN sqrt(CAST(sq2 AS DOUBLE) / nw
                        - (CAST(sq AS DOUBLE) / nw) * (CAST(sq AS DOUBLE) / nw))
                      / (CAST(sq AS DOUBLE) / nw) < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz
        FROM cum c JOIN wkly USING (l_partkey) CROSS JOIN tot CROSS JOIN weeks)
      SELECT abc, xyz, count(*) AS n_parts,
             ${Ql.R("100.0 * sum(rev) / max(trev)", 4)} AS revenue_pct
      FROM classed CROSS JOIN tot
      GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Affinity index (the merchandising lift matrix): how over- or
    * under-represented each price band is within each customer
    * segment — lift = P(band | segment) / P(band), the cross-sell
    * targeting signal. One joined aggregation onto the segment×band
    * grid; margins broadcast back; exact integer counts until the one
    * rounded divide per cell.
    */
  private val affinityIndex = QueryDef(
    "q_affinity_index",
    (spark, sfDir) => {
      val cells = Tables.orders(spark, sfDir)
        .join(broadcast(Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .selectExpr("c_mktsegment AS segment",
          "least(3L, CAST(floor(o_totalprice / 100000.0) AS LONG)) AS band")
        .groupBy("segment", "band").agg(count(lit(1)).as("n"))
        .checkpointed // feeds both margins and the cells
      val segTot = cells.groupBy("segment").agg(sum("n").as("ns"))
      val bandTot = cells.groupBy("band").agg(sum("n").as("nb"))
      val tot = cells.agg(sum("n").as("nt"))
      cells.join(broadcast(segTot), "segment")
        .join(broadcast(bandTot), "band")
        .crossJoin(broadcast(tot))
        .selectExpr("segment", "band", "n",
          s"${Ql.R("(CAST(n AS DOUBLE) / ns) / (CAST(nb AS DOUBLE) / nt)", 4)} AS lift")
        .orderBy("segment", "band")
    },
    Some(s"""
      WITH cells AS (
        SELECT c_mktsegment AS segment,
               least(3, CAST(floor(o_totalprice / CAST(100000 AS DOUBLE)) AS BIGINT)) AS band,
               CAST(count(*) AS BIGINT) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      st AS (SELECT segment, CAST(sum(n) AS BIGINT) AS ns FROM cells GROUP BY 1),
      bt AS (SELECT band, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells)
      SELECT segment, CAST(band AS BIGINT) AS band, n,
             ${Ql.R("(CAST(n AS DOUBLE) / ns) / (CAST(nb AS DOUBLE) / nt)", 4)} AS lift
      FROM cells JOIN st USING (segment) JOIN bt USING (band) CROSS JOIN t
      ORDER BY 1, 2
    """))

  override def defs: Seq[QueryDef] =
    Seq(rfmSegments, powerUserCurve, eventPaths3, sessionEntropy, lorenzCurve,
      qiniUplift, abcXyz, affinityIndex)
}
