package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Statistical-modeling operators over the warehouse tables: closed-form
  * model fits (ridge via normal equations, per-segment OLS trends), the
  * scale-out bootstrap (Poisson resampling — the only bootstrap that works
  * as one pass at 100 TB), sequential forecasting (Holt's linear method
  * over a calendar-bounded series), systematic sampling over distributed
  * global ordinals, and decayed-engagement feature scoring.
  *
  * Determinism discipline (QueryDef contract): every sum that feeds an
  * integer decision runs in exact BIGINT (quantities, cents, discount
  * points, micro-weight units); genuinely real-valued model outputs are
  * computed from those exact integer sums via formula text SHARED between
  * the Spark expression and the DuckDB oracle (identical parse ⇒ identical
  * IEEE evaluation — NOTES.md fact #25), then [[Ql.r]]-rounded.
  */
object StatQueries extends QueryModule {

  // ---------------------------------------------------------------- ridge regression

  /** Ridge regression fit in closed form by the 2×2 normal equations
    * (no intercept; features x1 = l_quantity, x2 = discount points,
    * target y = price cents; λ = 1000 in raw units):
    * β = (XᵀX + λI)⁻¹ Xᵀy solved by the explicit 2×2 inverse. This is
    * the 100 TB linear-model shape: ONE aggregation over the fact table
    * produces the five sufficient statistics (Σx1², Σx1x2, Σx2², Σx1y,
    * Σx2y) with map-side partial aggregation — model fitting never
    * shuffles rows, only the 5-number summary. All five sums are exact
    * BIGINT (x1 ≤ 50, x2 ≤ 10 points, y ≤ 1e7 cents ⇒ Σx1y ≤ ~5e14 at
    * sf0.1; the int64 ceiling lands near sf ~1e4 — past that the sums
    * switch to DOUBLE and this oracle-exactness note is void). The solve
    * arithmetic is a formula text shared verbatim with the oracle, so
    * both engines compute bit-identical doubles from identical integers.
    */
  private val ridge: QueryDef = {
    val det = "(CAST(s11 AS DOUBLE) + 1000.0) * (s22 + 1000.0) - CAST(s12 AS DOUBLE) * s12"
    val beta1 = s"((s22 + 1000.0) * b1 - CAST(s12 AS DOUBLE) * b2) / ($det)"
    val beta2 = s"((CAST(s11 AS DOUBLE) + 1000.0) * b2 - CAST(s12 AS DOUBLE) * b1) / ($det)"
    // probe prediction: qty 30, 5 discount points, output in dollars
    val yhat = s"(($beta1) * 30.0 + ($beta2) * 5.0) / 100.0"
    QueryDef(
      "q_ridge_regression",
      (spark, sfDir) =>
        Tables.lineitem(spark, sfDir)
          .select(
            col("l_quantity").cast("long").as("x1"),
            Ql.r(col("l_discount") * 100, 0).cast("long").as("x2"),
            Ql.r(col("l_extendedprice") * 100, 0).cast("long").as("y"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("x1") * col("x1")).as("s11"),
            sum(col("x1") * col("x2")).as("s12"),
            sum(col("x2") * col("x2")).as("s22"),
            sum(col("x1") * col("y")).as("b1"),
            sum(col("x2") * col("y")).as("b2"))
          .selectExpr(
            "n", "s11", "s12", "s22", "b1", "b2",
            s"${Ql.R(beta1, 4)} AS beta1_cents",
            s"${Ql.R(beta2, 4)} AS beta2_cents",
            s"${Ql.R(yhat, 2)} AS yhat_probe"),
      Some(s"""
        WITH r AS (
          SELECT CAST(l_quantity AS BIGINT) AS x1,
                 CAST(${Ql.R("l_discount * 100", 0)} AS BIGINT) AS x2,
                 CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT) AS y
          FROM lineitem),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x1 * x1) AS BIGINT) AS s11,
                 CAST(sum(x1 * x2) AS BIGINT) AS s12,
                 CAST(sum(x2 * x2) AS BIGINT) AS s22,
                 CAST(sum(x1 * y) AS BIGINT) AS b1,
                 CAST(sum(x2 * y) AS BIGINT) AS b2
          FROM r)
        SELECT n, s11, s12, s22, b1, b2,
               ${Ql.R(beta1, 4)} AS beta1_cents,
               ${Ql.R(beta2, 4)} AS beta2_cents,
               ${Ql.R(yhat, 2)} AS yhat_probe
        FROM s
      """))
  }

  // ---------------------------------------------------------------- per-segment OLS trend

  /** Per-segment OLS trend over the daily event-value series: for each
    * event type, regress the (6 dp-rounded) daily mean on the day index
    * and report slope, intercept, R², and the one-day-ahead forecast —
    * the "is this metric drifting and where will it be tomorrow"
    * dashboard readout. The regression runs on the DAILY table (rows =
    * calendar days × types, bounded by the calendar, not the corpus), so
    * at 100 TB the only corpus-sized work is the first keyed daily
    * aggregation; the built-in regr_* aggregates keep the fit inside
    * codegen. The day index is an exact integer day difference from the
    * global min day (a 1-row broadcast, never a collect).
    */
  private val linearTrend = QueryDef(
    "q_linear_trend",
    (spark, sfDir) => {
      val daily = Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(Ql.r(avg(col("value")), 6).as("y"))
      val minDay = daily.agg(min("day").as("d0"))
      daily.crossJoin(broadcast(minDay))
        .withColumn("x", datediff(col("day"), col("d0")).cast("double"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_days"),
          Ql.r(expr("regr_slope(y, x)"), 4).as("slope"),
          Ql.r(expr("regr_intercept(y, x)"), 4).as("intercept"),
          Ql.r(expr("regr_r2(y, x)"), 4).as("r2"),
          Ql.r(expr("regr_intercept(y, x) + regr_slope(y, x) * (max(x) + 1)"), 4)
            .as("forecast_next"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               ${Ql.R("avg(value)", 6)} AS y
        FROM events GROUP BY 1, 2),
      d0 AS (SELECT min(day) AS d0 FROM daily),
      xy AS (
        SELECT event_type, CAST(date_diff('day', d0, day) AS DOUBLE) AS x, y
        FROM daily CROSS JOIN d0)
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             ${Ql.R("regr_slope(y, x)", 4)} AS slope,
             ${Ql.R("regr_intercept(y, x)", 4)} AS intercept,
             ${Ql.R("regr_r2(y, x)", 4)} AS r2,
             ${Ql.R("regr_intercept(y, x) + regr_slope(y, x) * (max(x) + 1)", 4)} AS forecast_next
      FROM xy GROUP BY event_type ORDER BY event_type
    """))

  // ---------------------------------------------------------------- Poisson bootstrap CI

  /** Bootstrap confidence interval for the mean order value via the
    * POISSON bootstrap (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012): classical resampling needs n
    * draws WITH replacement per replicate — impossible in one pass — but
    * Poisson(1) per-row replicate weights are i.i.d.-close and embarrass-
    * ingly parallel: each row computes its own B weights from a hash,
    * the replicate sums partial-aggregate map-side, and the shuffle
    * carries B=32 rows. THE bootstrap shape that survives 100 TB.
    * Weights are drawn by inverting the Poisson(1) CDF on a 28-bit hash
    * uniform — an exact INTEGER threshold compare (thresholds are
    * floor(cdf·2²⁸), spliced as literals into both engines), so every
    * row's weight is deterministic and identical in both engines; the
    * replicate means divide exact BIGINT cent sums. The CI is the
    * [5th, 95th] percentile of the 32 replicate means (interpolation on
    * a 32-row frame; both engines use the (n−1)·p linear-interpolation
    * definition).
    */
  private val bootstrapCi: QueryDef = {
    // cumulative Poisson(1) CDF as exact 28-bit integer thresholds
    val e1 = math.exp(-1.0)
    val cdf = Seq(1.0, 2.0, 2.5, 8.0 / 3.0, 65.0 / 24.0).map(_ * e1)
    val Seq(t0, t1, t2, t3, t4) = cdf.map(c => (c * 268435456.0).toLong)
    val wCase = s"""CASE WHEN u < $t0 THEN 0 WHEN u < $t1 THEN 1
                         WHEN u < $t2 THEN 2 WHEN u < $t3 THEN 3
                         WHEN u < $t4 THEN 4 ELSE 5 END"""
    QueryDef(
      "q_bootstrap_ci",
      (spark, sfDir) => {
        val o = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"),
            Ql.r(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        val reps = o
          .select(col("o_orderkey"), col("cents"),
            explode(sequence(lit(0), lit(31))).as("b"))
          .withColumn("u",
            expr(Ql.md5PrefixLong("concat(o_orderkey, ':', b)", 7)))
          .withColumn("w", expr(wCase))
          .groupBy("b")
          .agg(sum("w").as("n_b"), sum(col("w") * col("cents")).as("cents_b"))
          .select(col("b"), (col("cents_b") / 100.0 / col("n_b")).as("mean_b"))
        val truth = o.agg(count(lit(1)).as("n"),
          Ql.r(sum("cents") / 100.0 / count(lit(1)), 2).as("mean_true"))
        reps.agg(
            count(lit(1)).as("n_reps"),
            Ql.r(avg("mean_b"), 2).as("boot_mean"),
            Ql.r(expr("percentile(mean_b, 0.05)"), 2).as("ci_lo"),
            Ql.r(expr("percentile(mean_b, 0.95)"), 2).as("ci_hi"))
          .crossJoin(broadcast(truth))
          .select("n", "mean_true", "n_reps", "boot_mean", "ci_lo", "ci_hi")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey,
                 CAST(${Ql.R("o_totalprice * 100", 0)} AS BIGINT) AS cents
          FROM orders),
        reps AS (
          SELECT b, CAST(sum(w) AS BIGINT) AS n_b,
                 CAST(sum(w * cents) AS BIGINT) AS cents_b
          FROM (
            SELECT cents, b, $wCase AS w
            FROM (
              SELECT o_orderkey, cents, unnest(generate_series(0, 31)) AS b,
                     ${Ql.Md5PrefixLong(
                       "CAST(o_orderkey AS VARCHAR) || ':' || CAST(unnest(generate_series(0, 31)) AS VARCHAR)", 7)} AS u
              FROM o))
          GROUP BY b),
        m AS (SELECT b, cents_b / 100.0 / n_b AS mean_b FROM reps),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     ${Ql.R("sum(cents) / 100.0 / count(*)", 2)} AS mean_true
              FROM o)
        SELECT t.n, t.mean_true,
               CAST(count(*) AS BIGINT) AS n_reps,
               ${Ql.R("avg(mean_b)", 2)} AS boot_mean,
               ${Ql.R("percentile_cont(0.05) WITHIN GROUP (ORDER BY mean_b)", 2)} AS ci_lo,
               ${Ql.R("percentile_cont(0.95) WITHIN GROUP (ORDER BY mean_b)", 2)} AS ci_hi
        FROM m CROSS JOIN t GROUP BY t.n, t.mean_true
      """))
  }

  // ---------------------------------------------------------------- systematic sampling

  /** Systematic sampling (every 100th element of a deterministic
    * hash-shuffled order, offset 50) — the classic audit/QA sample with
    * guaranteed even coverage of the keyspace. The "shuffled order" is
    * the 56-bit md5 of the order key, and the global ordinal over it is
    * assigned WITHOUT a single-partition sort by the two-level pattern
    * (q_global_ordinals): 16 hash-range buckets (top 4 bits — a PREFIX
    * of the sort order, so bucket offsets + in-bucket ranks compose to
    * the exact global rank), per-bucket distributed windows, offsets
    * from the 16-row histogram. The oracle proves the composition IS
    * row_number over the global hash order.
    */
  private val sampleSystematic = QueryDef(
    "q_sample_systematic",
    (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"),
          expr(Ql.md5PrefixLong("CAST(o_orderkey AS STRING)", 14)).as("h"))
        .withColumn("bkt", expr("shiftright(h, 52)"))
      val offsets = o.groupBy("bkt").agg(count(lit(1)).as("cnt"))
        .withColumn("offset",
          coalesce(sum(col("cnt")).over(
            Window.orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "offset")
      val inBucket = Window.partitionBy("bkt").orderBy("h", "o_orderkey")
      o.join(broadcast(offsets), "bkt")
        .withColumn("rn", col("offset") + row_number().over(inBucket))
        .filter(col("rn") % 100 === 50)
        .select(col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("rn")
    },
    Some(s"""
      WITH h AS (
        SELECT o_orderkey, o_totalprice,
               ${Ql.Md5PrefixLong("CAST(o_orderkey AS VARCHAR)", 14)} AS h
        FROM orders),
      r AS (
        SELECT o_orderkey, o_totalprice,
               row_number() OVER (ORDER BY h, o_orderkey) AS rn
        FROM h)
      SELECT rn, o_orderkey, o_totalprice
      FROM r WHERE rn % 100 = 50 ORDER BY rn
    """))

  // ---------------------------------------------------------------- Holt's linear forecast

  /** Holt's linear-trend double exponential smoothing (α=0.4, β=0.3)
    * over the per-type daily mean series, with the 7-day-ahead forecast
    * l + 7b — the level+trend upgrade of q_ewma_daily. Unlike EWMA the
    * coupled recursion has no single-window closed form, so the engine
    * folds it SEQUENTIALLY with the aggregate() higher-order function
    * over the sorted collected series — legitimate exactly because the
    * series is CALENDAR-BOUNDED (days × types, ~30 rows per type here;
    * thousands at worst), never corpus-sized; the corpus-scaled work is
    * only the daily aggregation feeding it. Initialization l₂=x₂,
    * b₂=x₂−x₁ (Hyndman & Athanasopoulos §8.2), recursion from t=3. The
    * oracle runs the identical recursion as a recursive CTE; both
    * engines evaluate the SAME arithmetic text over the SAME 6 dp-
    * rounded daily means in the same order ⇒ identical IEEE doubles.
    */
  private val holtForecast: QueryDef = {
    val newL = "0.4 * x + 0.6 * (acc.l + acc.b)"
    QueryDef(
      "q_holt_forecast",
      (spark, sfDir) =>
        Tables.events(spark, sfDir)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(Ql.r(avg(col("value")), 6).as("x"))
          .groupBy("event_type")
          .agg(expr("transform(array_sort(collect_list(struct(day, x))), a -> a.x)").as("xs"))
          // the l2/b2 initialization needs two observations; a
          // single-day series would make the slice length negative
          // (runtime error) where the oracle's rn=2 base simply drops
          // the type — drop it identically here
          .filter(size(col("xs")) >= 2)
          .selectExpr(
            "event_type",
            "CAST(size(xs) AS BIGINT) AS n_days",
            s"""aggregate(
                  slice(xs, 3, size(xs) - 2),
                  named_struct('l', element_at(xs, 2),
                               'b', element_at(xs, 2) - element_at(xs, 1)),
                  (acc, x) -> named_struct(
                    'l', $newL,
                    'b', 0.3 * (($newL) - acc.l) + 0.7 * acc.b),
                  acc -> acc) AS hb""")
          .selectExpr(
            "event_type", "n_days",
            s"${Ql.R("hb.l", 4)} AS level",
            s"${Ql.R("hb.b", 4)} AS trend",
            s"${Ql.R("hb.l + 7 * hb.b", 4)} AS forecast_7d")
          .orderBy("event_type"),
      Some(s"""
        WITH RECURSIVE daily AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 ${Ql.R("avg(value)", 6)} AS x
          FROM events GROUP BY 1, 2),
        seq AS (
          SELECT event_type, x,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
          FROM daily),
        n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
              FROM seq GROUP BY 1),
        rec AS (
          SELECT s2.event_type, 2 AS t, s2.x AS l, s2.x - s1.x AS b
          FROM seq s1 JOIN seq s2
            ON s1.event_type = s2.event_type AND s1.rn = 1 AND s2.rn = 2
          UNION ALL
          SELECT r.event_type, r.t + 1,
                 0.4 * x + 0.6 * (r.l + r.b),
                 0.3 * ((0.4 * x + 0.6 * (r.l + r.b)) - r.l) + 0.7 * r.b
          FROM rec r JOIN seq s
            ON s.event_type = r.event_type AND s.rn = r.t + 1)
        SELECT r.event_type, n.n_days,
               ${Ql.R("r.l", 4)} AS level,
               ${Ql.R("r.b", 4)} AS trend,
               ${Ql.R("r.l + 7 * r.b", 4)} AS forecast_7d
        FROM rec r
          JOIN n ON n.event_type = r.event_type AND r.t = n.n_days
        ORDER BY r.event_type
      """))
  }

  // ---------------------------------------------------------------- decayed engagement

  /** Exponentially-decayed engagement scoring — the feature-store
    * recency×frequency signal: each user's score is Σ 0.9^(days back)
    * over their events, histogrammed in half-unit buckets. The decay
    * weights are pre-tabulated INTEGER micro-units (round(0.9^k·1e6),
    * generated once as a shared CASE text), so per-user sums are exact
    * BIGINTs — no float summation order to diverge on, no cross-libm
    * pow() risk (NOTES.md #25 extended: pow(0.9, k) is not bit-guaranteed
    * across engines; a 30-entry literal table is). Scale shape: one
    * groupBy user (corpus-sized, map-side partial) + one bucket histogram
    * (tens of rows); the anchor day is a 1-row broadcast.
    */
  private val decayEngagement: QueryDef = {
    val wCase = (0 to 29).map { k =>
      val w = (BigDecimal("0.9").pow(k) * BigDecimal(1000000))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      s"WHEN $k THEN ${w}"
    }.mkString("CASE db ", " ", " ELSE 0 END")
    QueryDef(
      "q_decay_engagement",
      (spark, sfDir) => {
        val e = Tables.events(spark, sfDir)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val anchor = e.agg(max("day").as("maxd"))
        e.crossJoin(broadcast(anchor))
          .withColumn("db", datediff(col("maxd"), col("day")))
          .selectExpr("user_id", s"$wCase AS w")
          .groupBy("user_id")
          .agg(sum("w").as("s_micro"))
          .selectExpr("user_id", "s_micro", "s_micro div 500000 AS bucket")
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_users"),
            min("s_micro").as("min_micro"), max("s_micro").as("max_micro"))
          .orderBy("bucket")
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        a AS (SELECT max(day) AS maxd FROM e),
        w AS (
          SELECT user_id, $wCase AS w
          FROM (SELECT user_id, date_diff('day', day, maxd) AS db
                FROM e CROSS JOIN a)),
        s AS (
          SELECT user_id, CAST(sum(w) AS BIGINT) AS s_micro
          FROM w GROUP BY 1)
        SELECT s_micro // 500000 AS bucket,
               CAST(count(*) AS BIGINT) AS n_users,
               min(s_micro) AS min_micro, max(s_micro) AS max_micro
        FROM s GROUP BY 1 ORDER BY 1
      """))
  }

  // ---------------------------------------------------------------- Mann-Whitney U

  /** Mann-Whitney rank-sum test (two-sided z approximation with tie
    * correction) comparing the `click` vs `error` event-value
    * distributions — the nonparametric "did the distribution shift"
    * readout behind A/B dashboards when means mislead. Ranks are exact
    * INTEGERS throughout: values are 2-decimal by construction, so the
    * combined sample collapses onto the cent grid (≤49k distinct cells,
    * bounded by the value domain, not the corpus), doubled mid-ranks
    * 2·cum + cnt + 1 avoid the ÷2 rational, and U₂ = 2U, the tie term
    * Σ(t³−t), and both group sizes come out of exact BIGINT sums — no
    * float compare anywhere until the final z, whose formula text is
    * shared with the oracle. Scale shape: one corpus-sized groupBy onto
    * the value grid, then bucket-offset prefix sums over the grid
    * (two-level: a ~50-row bucket histogram window + per-bucket
    * distributed windows), then a 1-row report.
    */
  private val mannWhitney: QueryDef = {
    // z from exact integers: U2 = 2U, mu2 = 2mu = na*nb,
    // var = (na*nb/12)*((n+1) - tt/(n*(n-1))); z = (U2 - na*nb)/(2*sqrt(var))
    val z =
      """(CAST(u2 AS DOUBLE) - CAST(na AS DOUBLE) * nb)
         / (2.0 * sqrt((CAST(na AS DOUBLE) * nb / 12.0)
            * ((n + 1.0) - CAST(tt AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1.0)))))"""
    QueryDef(
      "q_mann_whitney",
      (spark, sfDir) => {
        val grid = Tables.events(spark, sfDir)
          .filter(col("event_type").isin("click", "error"))
          .select(Ql.r(col("value") * 100, 0).cast("long").as("c"),
            col("event_type"))
          .groupBy("c")
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
            count(lit(1)).as("cnt"))
        val withBkt = grid.withColumn("bkt", expr("c div 1000"))
        val offsets = withBkt.groupBy("bkt").agg(sum("cnt").as("bn"))
          .withColumn("off",
            coalesce(sum(col("bn")).over(
              Window.orderBy("bkt")
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bkt", "off")
        val inB = Window.partitionBy("bkt").orderBy("c")
        withBkt.join(broadcast(offsets), "bkt")
          .withColumn("cum",
            col("off") + coalesce(sum(col("cnt")).over(
              inB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          // doubled mid-rank of the tie group at c: 2*cum + cnt + 1
          .agg(
            sum(col("ca") * (lit(2L) * col("cum") + col("cnt") + 1L)).as("r2a"),
            sum("ca").as("na"),
            sum(col("cnt") - col("ca")).as("nb"),
            sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tt"))
          .selectExpr("na", "nb", "na + nb AS n",
            "r2a - na * (na + 1) AS u2", "tt")
          .selectExpr("na", "nb", "u2", "tt", s"${Ql.R(z, 4)} AS z")
      },
      Some(s"""
        WITH grid AS (
          SELECT CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events WHERE event_type IN ('click', 'error')
          GROUP BY 1),
        cumm AS (
          SELECT c, ca, cnt,
                 COALESCE(sum(cnt) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM grid),
        agg AS (
          SELECT CAST(sum(ca * (2 * cum + cnt + 1)) AS BIGINT) AS r2a,
                 CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cnt - ca) AS BIGINT) AS nb,
                 CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tt
          FROM cumm),
        u AS (SELECT na, nb, na + nb AS n, r2a - na * (na + 1) AS u2, tt FROM agg)
        SELECT na, nb, u2, tt, ${Ql.R(z, 4)} AS z FROM u
      """))
  }

  // ---------------------------------------------------------------- Theil index

  /** Theil inequality index T and mean log deviation L of order value
    * per order priority — the decomposable inequality family (Gini's
    * sibling, q_gini; unlike Gini, Theil is ONE corpus pass with no
    * ordering at all: T = (Σ x·ln x)/(n·μ) − ln μ and
    * L = ln μ − (Σ ln x)/n need only Σx (exact cents), Σ ln x, and
    * Σ x·ln x — map-side partial aggregation end to end, nothing
    * rank-based to shuffle. μ is computed from exact integer cents; the
    * two log sums are the only order-sensitive doubles and sit ~9
    * digits below the 5 dp output rounding.
    */
  private val theilIndex: QueryDef = {
    val mu = "(CAST(cents AS DOUBLE) / 100.0 / n)"
    val theil = s"sxlx / (n * $mu) - ln($mu)"
    val mld = s"ln($mu) - slx / n"
    QueryDef(
      "q_theil_index",
      (spark, sfDir) =>
        Tables.orders(spark, sfDir)
          .select(col("o_orderpriority"),
            Ql.r(col("o_totalprice") * 100, 0).cast("long").as("cc"),
            col("o_totalprice").as("x"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("cc").as("cents"),
            sum(log(col("x"))).as("slx"),
            sum(col("x") * log(col("x"))).as("sxlx"))
          .selectExpr("o_orderpriority", "n",
            s"${Ql.R(mu, 2)} AS mean_value",
            s"${Ql.R(theil, 5)} AS theil_t",
            s"${Ql.R(mld, 5)} AS mld_l")
          .orderBy("o_orderpriority"),
      Some(s"""
        WITH a AS (
          SELECT o_orderpriority,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(${Ql.R("o_totalprice * 100", 0)} AS BIGINT)) AS BIGINT) AS cents,
                 sum(ln(o_totalprice)) AS slx,
                 sum(o_totalprice * ln(o_totalprice)) AS sxlx
          FROM orders GROUP BY 1)
        SELECT o_orderpriority, n,
               ${Ql.R(mu, 2)} AS mean_value,
               ${Ql.R(theil, 5)} AS theil_t,
               ${Ql.R(mld, 5)} AS mld_l
        FROM a ORDER BY o_orderpriority
      """))
  }

  // ---------------------------------------------------------------- stratified ATE

  /** Stratified average-treatment-effect estimate (the observational
    * causal-inference workhorse): treatment = urgent order priority,
    * outcome = order value, strata = the customer's market segment.
    * Per stratum both arm means divide exact BIGINT cent sums by exact
    * counts, and the overall ATE reweights the per-stratum differences
    * by stratum share — the formula text is shared with the oracle, so
    * the doubles cannot drift. The report carries the per-stratum rows
    * plus an 'ALL' summary row (union of two aggregations over the same
    * shuffled frame). Scale shape: one orders→customer equi-join keyed
    * on the customer key (the dimension broadcasts when it fits; at
    * 100 TB both sides co-partition), then two keyed aggregations over
    * segment-sized frames.
    */
  private val stratAte: QueryDef = {
    val diff = "(CAST(s1 AS DOUBLE) / 100.0 / n1 - CAST(s0 AS DOUBLE) / 100.0 / n0)"
    QueryDef(
      "q_strat_ate",
      (spark, sfDir) => {
        val o = Tables.orders(spark, sfDir)
          .select(col("o_custkey"),
            (col("o_orderpriority") === "1-URGENT").cast("long").as("t"),
            Ql.r(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        val c = Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_mktsegment"))
        val strata = o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(sum("t").as("n1"),
            sum(lit(1L) - col("t")).as("n0"),
            sum(col("t") * col("cents")).as("s1"),
            sum((lit(1L) - col("t")) * col("cents")).as("s0"))
          .filter(col("n1") > 0 && col("n0") > 0)
        val perStratum = strata.selectExpr(
          "c_mktsegment AS stratum", "n1", "n0",
          s"${Ql.R(diff, 2)} AS effect")
        val overall = strata
          .agg(sum(col("n1") + col("n0")).as("n"),
            sum(expr(s"(n1 + n0) * ($diff)")).as("wsum"),
            sum("n1").as("tn1"), sum("n0").as("tn0"))
          .selectExpr("'ALL' AS stratum", "tn1 AS n1", "tn0 AS n0",
            s"${Ql.R("wsum / n", 2)} AS effect")
        perStratum.unionByName(overall).orderBy("stratum")
      },
      Some(s"""
        WITH o AS (
          SELECT o_custkey,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
                 CAST(${Ql.R("o_totalprice * 100", 0)} AS BIGINT) AS cents
          FROM orders),
        s AS (
          SELECT c_mktsegment,
                 CAST(sum(t) AS BIGINT) AS n1,
                 CAST(sum(1 - t) AS BIGINT) AS n0,
                 CAST(sum(t * cents) AS BIGINT) AS s1,
                 CAST(sum((1 - t) * cents) AS BIGINT) AS s0
          FROM o JOIN customer ON o_custkey = c_custkey
          GROUP BY 1
          HAVING sum(t) > 0 AND sum(1 - t) > 0)
        SELECT c_mktsegment AS stratum, n1, n0, ${Ql.R(diff, 2)} AS effect
        FROM s
        UNION ALL
        SELECT 'ALL' AS stratum,
               CAST(sum(n1) AS BIGINT) AS n1, CAST(sum(n0) AS BIGINT) AS n0,
               ${Ql.R(s"sum((n1 + n0) * ($diff)) / sum(n1 + n0)", 2)} AS effect
        FROM s
        ORDER BY stratum
      """))
  }

  // ---------------------------------------------------------------- Cramér's V

  /** Cramér's V association between event type and day of week — the
    * bounded-[0,1] effect size behind "is this categorical feature
    * informative" screens (the χ² machinery of q_chi2_terms, aimed at a
    * fixed 5×7 contingency table instead of a vocabulary). One
    * corpus-sized groupBy onto the 35-cell table; margins and the χ²
    * sum run over the broadcast-sized cell frame. All cells are exact
    * BIGINTs; expected counts and χ² are doubles from identical
    * formula text. Day-of-week conventions differ (Spark Sunday=1,
    * DuckDB Sunday=0) — normalized to 0-based on the Spark side.
    */
  private val cramersV = QueryDef(
    "q_cramers_v",
    (spark, sfDir) => {
      val cells = Tables.events(spark, sfDir)
        .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
      val rowm = cells.groupBy("event_type").agg(sum("o").as("rn"))
      val colm = cells.groupBy("dow").agg(sum("o").as("cn"))
      val tot = cells.agg(sum("o").as("n"))
      cells.join(broadcast(rowm), "event_type")
        .join(broadcast(colm), "dow")
        .crossJoin(broadcast(tot))
        .selectExpr("event_type", "dow", "o", "rn", "cn", "n",
          "CAST(rn AS DOUBLE) * cn / n AS e")
        // dof and the V denominator derive from the OBSERVED table shape
        // (count(distinct) over the 35-cell frame), not hard-coded 5×7 —
        // a sparser dataset missing a type or a weekday still reports
        // the right statistics on both engines
        .agg(max("n").as("n"),
          Ql.r(sum(expr("(o - e) * (o - e) / e")), 4).as("chi2"),
          countDistinct("event_type").as("r"),
          countDistinct("dow").as("c"))
        .selectExpr("n", "chi2",
          "CAST((r - 1) * (c - 1) AS INT) AS dof",
          s"${Ql.R("sqrt(chi2 / (CAST(n AS DOUBLE) * least(r - 1, c - 1)))", 4)} AS cramers_v")
    },
    Some(s"""
      WITH cells AS (
        SELECT event_type, dayofweek(ts) AS dow, CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2),
      rowm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY 1),
      colm AS (SELECT dow, CAST(sum(o) AS BIGINT) AS cn FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      x AS (
        SELECT event_type, dow, o, rn, cn, n, CAST(rn AS DOUBLE) * cn / n AS e
        FROM cells JOIN rowm USING (event_type) JOIN colm USING (dow) CROSS JOIN tot),
      a AS (
        SELECT max(n) AS n, ${Ql.R("sum((o - e) * (o - e) / e)", 4)} AS chi2,
               count(DISTINCT event_type) AS r, count(DISTINCT dow) AS c
        FROM x)
      SELECT n, chi2, CAST((r - 1) * (c - 1) AS INT) AS dof,
             ${Ql.R("sqrt(chi2 / (CAST(n AS DOUBLE) * least(r - 1, c - 1)))", 4)} AS cramers_v
      FROM a
    """))

  // ---------------------------------------------------------------- Holt-Winters

  /** Additive Holt–Winters (level + trend + weekly seasonality) on the
    * per-type daily mean — q_holt_forecast with the third smoothing
    * equation, the full triple-exponential forecaster a demand planner
    * actually runs. State per series is (l, b, s[7], t); the recursion
    * is a sequential aggregate() fold over the calendar-bounded sorted
    * series (the corpus collapses to day×type first — nothing else
    * scales with data volume). Init: l₀ = week-1 mean, b₀ = (week-2
    * mean − week-1 mean)/7, sᵢ = xᵢ − l₀; the fold then consumes days
    * 8..n. Cross-engine exactness is the q_holt_forecast contract
    * taken further: every update is the SAME formula shape over the
    * SAME values in the same left-to-right order — the week means are
    * explicit 7-term left-associated chains on both sides (DuckDB's
    * sum() has no order guarantee, so the oracle pivots rn 1..14 into
    * columns and adds them in the fold's order), and the recursive CTE
    * carries the seven seasonal slots as columns updated by CASE.
    * Output: final level/trend, 1-day and 7-day-ahead forecasts, and
    * the seasonal amplitude.
    */
  private val holtWinters: QueryDef = {
    // shared formula shapes — engines substitute their own variable names
    def fL(sp: String, l: String, b: String) =
      s"0.4 * (x - $sp) + 0.6 * ($l + $b)"
    def fB(nl: String, l: String, b: String) =
      s"0.3 * (($nl) - $l) + 0.7 * $b"
    def fS(nl: String, sp: String) =
      s"0.2 * (x - ($nl)) + 0.8 * $sp"
    QueryDef(
      "q_holt_winters",
      (spark, sfDir) => {
        val sp = "element_at(acc.s, CAST(pmod(acc.t, 7) + 1 AS INT))"
        val nl = fL(sp, "acc.l", "acc.b")
        val w1 = "(((((( element_at(xs, 1) + element_at(xs, 2)) + element_at(xs, 3)) + element_at(xs, 4)) + element_at(xs, 5)) + element_at(xs, 6)) + element_at(xs, 7)) / 7"
        val w2 = "(((((( element_at(xs, 8) + element_at(xs, 9)) + element_at(xs, 10)) + element_at(xs, 11)) + element_at(xs, 12)) + element_at(xs, 13)) + element_at(xs, 14)) / 7"
        Tables.events(spark, sfDir)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(Ql.r(avg(col("value")), 6).as("x"))
          .groupBy("event_type")
          .agg(expr("transform(array_sort(collect_list(struct(day, x))), a -> a.x)").as("xs"))
          .filter(size(col("xs")) >= 15) // two init weeks + one folded day
          .selectExpr(
            "event_type",
            "CAST(size(xs) AS BIGINT) AS n_days",
            s"""aggregate(
                  slice(xs, 8, size(xs) - 7),
                  named_struct(
                    'l', CAST($w1 AS DOUBLE),
                    'b', CAST((($w2) - ($w1)) / 7 AS DOUBLE),
                    't', 7,
                    's', transform(slice(xs, 1, 7), v -> v - ($w1))),
                  (acc, x) -> named_struct(
                    'l', ${fL(sp, "acc.l", "acc.b")},
                    'b', ${fB(nl, "acc.l", "acc.b")},
                    't', acc.t + 1,
                    's', transform(acc.s, (v, i) -> IF(i = pmod(acc.t, 7), ${fS(nl, sp)}, v))),
                  acc -> acc) AS hw""")
          .selectExpr(
            "event_type", "n_days",
            s"${Ql.R("hw.l", 4)} AS level",
            s"${Ql.R("hw.b", 4)} AS trend",
            s"${Ql.R("hw.l + hw.b + element_at(hw.s, CAST(pmod(hw.t, 7) + 1 AS INT))", 4)} AS forecast_1d",
            s"${Ql.R("hw.l + 7 * hw.b + element_at(hw.s, CAST(pmod(hw.t + 6, 7) + 1 AS INT))", 4)} AS forecast_7d",
            s"${Ql.R("array_max(hw.s) - array_min(hw.s)", 4)} AS season_amplitude")
          .orderBy("event_type")
      },
      Some {
        val sp = "(CASE r.t % 7 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END)"
        val nl = fL(sp, "r.l", "r.b")
        val sUpd = (0 to 6).map(i =>
          s"CASE WHEN r.t % 7 = $i THEN ${fS(nl, sp)} ELSE r.s$i END").mkString(",\n                 ")
        val w1 = "(((((( x1 + x2) + x3) + x4) + x5) + x6) + x7) / 7"
        val w2 = "(((((( x8 + x9) + x10) + x11) + x12) + x13) + x14) / 7"
        val pivots = (1 to 14).map(i => s"max(CASE WHEN rn = $i THEN x END) AS x$i").mkString(", ")
        val finalS = "(CASE r.t % 7 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END)"
        val finalS6 = "(CASE (r.t + 6) % 7 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END)"
        val sMax = "greatest(r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6)"
        val sMin = "least(r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6)"
        s"""
        WITH RECURSIVE daily AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 ${Ql.R("avg(value)", 6)} AS x
          FROM events GROUP BY 1, 2),
        seq AS (
          SELECT event_type, x,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
          FROM daily),
        n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
              FROM seq GROUP BY 1 HAVING count(*) >= 15),
        piv AS (
          SELECT seq.event_type, $pivots
          FROM seq JOIN n ON seq.event_type = n.event_type
          WHERE rn <= 14 GROUP BY 1),
        init AS (
          SELECT event_type,
                 CAST($w1 AS DOUBLE) AS l,
                 CAST((($w2) - ($w1)) / 7 AS DOUBLE) AS b,
                 x1 - ($w1) AS s0, x2 - ($w1) AS s1, x3 - ($w1) AS s2,
                 x4 - ($w1) AS s3, x5 - ($w1) AS s4, x6 - ($w1) AS s5,
                 x7 - ($w1) AS s6
          FROM piv),
        rec AS (
          SELECT event_type, 7 AS t, l, b, s0, s1, s2, s3, s4, s5, s6
          FROM init
          UNION ALL
          SELECT r.event_type, r.t + 1,
                 ${fL(sp, "r.l", "r.b")},
                 ${fB(nl, "r.l", "r.b")},
                 $sUpd
          FROM rec r JOIN seq s
            ON s.event_type = r.event_type AND s.rn = r.t + 1)
        SELECT r.event_type, n.n_days,
               ${Ql.R("r.l", 4)} AS level,
               ${Ql.R("r.b", 4)} AS trend,
               ${Ql.R(s"r.l + r.b + $finalS", 4)} AS forecast_1d,
               ${Ql.R(s"r.l + 7 * r.b + $finalS6", 4)} AS forecast_7d,
               ${Ql.R(s"$sMax - $sMin", 4)} AS season_amplitude
        FROM rec r JOIN n ON n.event_type = r.event_type AND r.t = n.n_days
        ORDER BY r.event_type
      """
      })
  }

  // ---------------------------------------------------------------- PCA (power iteration)

  /** One power-iteration step over a covariance relation `cov(i, j, c)`:
    * w = C·v, renormalized to unit length and 8-dp rounded — the shared
    * rounded-trajectory step q_pca_power unrolls three times (its DuckDB
    * twin splices the identical formula text per round). Exposed so the
    * run-to-convergence variant and PropertySpec share ONE definition of
    * the step with the oracled query.
    */
  def powerIterStep(cov: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = cov.join(v.select(col("i").as("j"), col("v")), "j")
      .groupBy("i").agg(sum(expr("c * v")).as("w"))
    val norm = w.agg(sqrt(sum(expr("w * w"))).as("nrm"))
    w.crossJoin(broadcast(norm)).selectExpr("i", s"${Ql.R("w / nrm", 8)} AS v")
  }

  /** Rayleigh quotient vᵀCv of a unit iterate against `cov(i, j, c)` —
    * the eigenvalue estimate q_pca_power reports, as a driver-side
    * double (1-row aggregate fetch; convergence decisions are
    * driver-side by necessity, the kcoreConverged contract).
    */
  def rayleighQuotient(cov: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame): Double =
    cov.join(v.select(col("i"), col("v").as("vi")), "i")
      .join(v.select(col("i").as("j"), col("v").as("vj")), "j")
      .agg(sum(expr("vi * c * vj")).as("r")).head().getDouble(0)

  /** Run-to-convergence power iteration: [[powerIterStep]] repeated
    * until the Rayleigh quotient moves less than `tol` between rounds
    * (or fail past maxRounds) — the production variant for matrices
    * whose spectral gap is unknown, where q_pca_power's fixed 3 rounds
    * (chosen for the oracle contract) may not suffice. Each round is
    * one join + aggregate over the MATRIX relation (256 rows for the
    * 16-dim query), never the corpus: iterating to convergence costs
    * rounds × a trivial job, not rounds × a corpus pass. Returns
    * (unit iterate, eigenvalue estimate, rounds run). PropertySpec
    * proves loop == fixed-round on a well-separated spectrum and
    * loop-past-fixed on a narrow one.
    */
  def powerIterationConverged(covIn: org.apache.spark.sql.DataFrame,
      tol: Double, maxRounds: Int = 200)
      : (org.apache.spark.sql.DataFrame, Double, Int) = scope {
    val cov = covIn.checkpointed
    val d = cov.select("i").distinct()
    val dims = d.count() // matrix dimension — report-sized driver fetch
    var v = d.withColumn("v", lit(1.0 / math.sqrt(dims.toDouble)))
    var rounds = 0
    var lastR = Double.NaN
    var delta = Double.MaxValue
    while (delta >= tol && rounds < maxRounds) {
      v = powerIterStep(cov, v).checkpointed
      val r = rayleighQuotient(cov, v)
      if (!lastR.isNaN) delta = math.abs(r - lastR)
      lastR = r
      rounds += 1
    }
    if (delta >= tol)
      throw new IllegalStateException(
        s"power iteration did not converge to $tol in $maxRounds rounds (delta=$delta)")
    (v.checkpointed, lastR, rounds)
  }

  /** Top principal component of the embedding cloud (first 16 dims for
    * the demo; the plan is dimension-generic) by distributed covariance
    * + fixed-round power iteration. The 100 TB shape: the corpus-sized
    * work is ONE self-join keyed on the vector id (a 16× row explode,
    * partial-aggregated map-side into the 256-cell moment table) plus a
    * 16-row mean pass; every iteration then runs on the 256-row
    * covariance table with 16-row vector frames and 1-row norm
    * broadcasts — never the corpus. Three unrolled iterations from the
    * uniform start v₀ = 1/4 (like q_pagerank's fixed-round contract;
    * the SURVEY's convergence loops exist where a loop is provable).
    * Cross-engine float discipline: raw moments and means are rounded
    * (6/8 dp) BEFORE the covariance formula, the iterate is re-rounded
    * to 8 dp after each normalization, and every arithmetic step is
    * shared formula text — so both engines walk the same rounded
    * trajectory (the q_ewma_daily round-before-recursion contract).
    * Output: per-dimension loadings of v₃ and the Rayleigh quotient
    * vᵀCv as the eigenvalue estimate.
    */
  private val pcaPower = QueryDef(
    "q_pca_power",
    (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 16)))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
          col("col").cast("double").as("x"))
      val n = e.agg((count(lit(1)) / 16).cast("long").as("n"))
      val means = e.groupBy("i").agg(Ql.r(sum("x") / count(lit(1)), 8).as("m"))
      val moments = e.as("a")
        .join(e.as("b"), "vec_id")
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(Ql.r(sum(col("a.x") * col("b.x")), 6).as("sxy"))
      val cov = moments
        .join(broadcast(means.select(col("i"), col("m").as("mi"))), "i")
        .join(broadcast(means.select(col("i").as("j"), col("m").as("mj"))), "j")
        .crossJoin(broadcast(n))
        .selectExpr("i", "j",
          s"${Ql.R("(sxy - n * mi * mj) / (n - 1.0)", 8)} AS c")
        // the 256-row covariance is referenced five times (v0, three
        // iterations, the Rayleigh quotient) — pin it so the corpus
        // self-join runs ONCE, not once per reference
        .checkpointed
      val v0 = cov.select(col("i")).distinct().withColumn("v", lit(0.25))
      val v3 = powerIterStep(cov, powerIterStep(cov, powerIterStep(cov, v0)))
      val eig = cov
        .join(v3.select(col("i"), col("v").as("vi")), "i")
        .join(v3.select(col("i").as("j"), col("v").as("vj")), "j")
        .agg(Ql.r(sum(expr("vi * c * vj")), 4).as("eigenvalue"))
      v3.crossJoin(broadcast(eig))
        .select(col("i").as("dim"), Ql.r(col("v"), 4).as("loading"),
          col("eigenvalue"))
        .orderBy("dim")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, unnest(generate_series(1, 16)) AS i,
               CAST(unnest(embedding[1:16]) AS DOUBLE) AS x
        FROM embeddings),
      n AS (SELECT CAST(count(*) / 16 AS BIGINT) AS n FROM e),
      means AS (SELECT i, ${Ql.R("sum(x) / count(*)", 8)} AS m FROM e GROUP BY 1),
      moments AS (
        SELECT a.i AS i, b.i AS j, ${Ql.R("sum(a.x * b.x)", 6)} AS sxy
        FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
      cov AS (
        SELECT moments.i AS i, moments.j AS j,
               ${Ql.R("(sxy - n * mi.m * mj.m) / (n - 1.0)", 8)} AS c
        FROM moments
          JOIN means mi ON moments.i = mi.i
          JOIN means mj ON moments.j = mj.i
          CROSS JOIN n),
      v0 AS (SELECT DISTINCT i, 0.25 AS v FROM cov),
      w1 AS (SELECT cov.i, sum(c * v) AS w FROM cov JOIN v0 ON cov.j = v0.i GROUP BY 1),
      v1 AS (SELECT i, ${Ql.R("w / (SELECT sqrt(sum(w * w)) FROM w1)", 8)} AS v FROM w1),
      w2 AS (SELECT cov.i, sum(c * v) AS w FROM cov JOIN v1 ON cov.j = v1.i GROUP BY 1),
      v2 AS (SELECT i, ${Ql.R("w / (SELECT sqrt(sum(w * w)) FROM w2)", 8)} AS v FROM w2),
      w3 AS (SELECT cov.i, sum(c * v) AS w FROM cov JOIN v2 ON cov.j = v2.i GROUP BY 1),
      v3 AS (SELECT i, ${Ql.R("w / (SELECT sqrt(sum(w * w)) FROM w3)", 8)} AS v FROM w3),
      eig AS (
        SELECT ${Ql.R("sum(a.v * cov.c * b.v)", 4)} AS eigenvalue
        FROM cov JOIN v3 a ON cov.i = a.i JOIN v3 b ON cov.j = b.i)
      SELECT v3.i AS dim, ${Ql.R("v3.v", 4)} AS loading, eig.eigenvalue
      FROM v3 CROSS JOIN eig ORDER BY dim
    """))

  // ---------------------------------------------------------------- DP noisy counts

  /** Differentially-private histogram release of daily event counts
    * (Laplace mechanism, ε=1, sensitivity 1 for a count): each cell's
    * noise is Laplace(1) by inverse-CDF — −sgn(u−½)·ln(1−2|u−½|) — over
    * a 28-bit hash uniform of the CELL KEY. A production release draws
    * true randomness; the deterministic hash stands in so the MECHANISM
    * (shape, clamping, post-processing) is oracle-checkable — swap the
    * uniform's source and nothing else changes. Noise math is shared
    * formula text over an exact integer u and exact integer counts;
    * the released value is max(0, round(n+noise)) (post-processing
    * preserves DP). Scale shape: one keyed aggregation, then row-local
    * noise arithmetic — nothing beyond the histogram is ever
    * materialized.
    */
  private val dpCounts: QueryDef = {
    // +0.5 keeps the uniform strictly inside (0,1): u = 0 would put
    // ln(1-2|u-1/2|) at ln(0), where Spark's null and DuckDB's -inf
    // semantics diverge
    val uu = "((CAST(u AS DOUBLE) + 0.5) / 268435456.0)"
    val noise = s"-sign($uu - 0.5) * ln(1.0 - 2.0 * abs($uu - 0.5))"
    QueryDef(
      "q_dp_counts",
      (spark, sfDir) =>
        Tables.events(spark, sfDir)
          .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("u",
            expr(Ql.md5PrefixLong("concat(day, '|', event_type)", 7)))
          .selectExpr("day", "event_type", "n",
            s"${Ql.R(noise, 4)} AS noise",
            s"CAST(greatest(0, floor(${Ql.R(s"n + ($noise)", 0)})) AS BIGINT) AS released")
          .orderBy("day", "event_type"),
      Some(s"""
        WITH h AS (
          SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        u AS (
          SELECT day, event_type, n,
                 ${Ql.Md5PrefixLong("day || '|' || event_type", 7)} AS u
          FROM h)
        SELECT day, event_type, n,
               ${Ql.R(noise, 4)} AS noise,
               CAST(greatest(0, floor(${Ql.R(s"n + ($noise)", 0)})) AS BIGINT) AS released
        FROM u ORDER BY day, event_type
      """))
  }

  // ---------------------------------------------------------------- decision stump

  /** Gini-optimal decision stump — the split search inside every
    * gradient-boosted tree, run once at full width: predict
    * `l_returnflag = 'R'` from the order-value feature, scanning every
    * candidate threshold on the hundred-dollar bucket grid. The 100 TB
    * histogram-split shape (LightGBM's histogram algorithm, Ke et al.
    * 2017): ONE corpus pass builds the (bucket, n, n_pos) histogram
    * (bounded by the price domain, ~1k rows), prefix sums over it give
    * every split's left/right class counts, and the weighted Gini
    * impurity ranks candidates — the corpus is never touched again.
    * Counts stay exact BIGINT through the prefix sums; the impurity is
    * shared-formula doubles over those integers, ranked ROUNDED (6 dp)
    * with a bucket tiebreak (the rank-on-raw-double hazard). The grid's
    * prefix sums use the two-level bucket-offset pattern; the totals
    * row is a 1-row broadcast. Top-3 splits are reported.
    */
  private val decisionStump: QueryDef = {
    // weighted Gini of a split: (nl*(1-pl^2-(1-pl)^2) + nr*(...)) / n
    val gini =
      """((nl - (CAST(pl AS DOUBLE) * pl / nl + CAST(nl - pl AS DOUBLE) * (nl - pl) / nl))
          + (nr - (CAST(pr AS DOUBLE) * pr / nr + CAST(nr - pr AS DOUBLE) * (nr - pr) / nr)))
         / (CAST(nl AS DOUBLE) + nr)"""
    QueryDef(
      "q_decision_stump",
      (spark, sfDir) => {
        val hist = Tables.lineitem(spark, sfDir)
          .select(expr(s"CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT) div 10000").as("bucket"),
            (col("l_returnflag") === "R").cast("long").as("y"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
        val withB = hist.withColumn("bkt", expr("bucket div 64"))
        val offsets = withB.groupBy("bkt")
          .agg(sum("cnt").as("bn"), sum("pos").as("bp"))
          .withColumn("offn", coalesce(sum(col("bn")).over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("offp", coalesce(sum(col("bp")).over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bkt", "offn", "offp")
        val inB = Window.partitionBy("bkt").orderBy("bucket")
        val prefix = withB.join(broadcast(offsets), "bkt")
          .withColumn("nl", col("offn") + sum(col("cnt")).over(
            inB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("pl", col("offp") + sum(col("pos")).over(
            inB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = hist.agg(sum("cnt").as("n"), sum("pos").as("p"))
        prefix.crossJoin(broadcast(tot))
          .filter(col("nl") < col("n")) // a split must leave a right side
          .selectExpr("bucket", "nl", "pl", "n - nl AS nr", "p - pl AS pr")
          .selectExpr("bucket", "nl", "pl", "nr", "pr",
            s"${Ql.R(gini, 6)} AS gini")
          .orderBy(col("gini"), col("bucket"))
          .limit(3)
      },
      Some(s"""
        WITH hist AS (
          SELECT CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT) // 10000 AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
          FROM lineitem GROUP BY 1),
        prefix AS (
          SELECT bucket,
                 CAST(sum(cnt) OVER (ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
                 CAST(sum(pos) OVER (ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pl
          FROM hist),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                       CAST(sum(pos) AS BIGINT) AS p FROM hist),
        s AS (
          SELECT bucket, nl, pl, n - nl AS nr, p - pl AS pr
          FROM prefix CROSS JOIN tot WHERE nl < n)
        SELECT bucket, nl, pl, nr, pr, ${Ql.R(gini, 6)} AS gini
        FROM s ORDER BY gini, bucket LIMIT 3
      """))
  }

  // ---------------------------------------------------------------- burstiness

  /** Burstiness diagnostics of the daily event arrival process per
    * type: the Fano factor (index of dispersion, var/mean of daily
    * counts — 1 for a Poisson process) and the Goh–Barabási burstiness
    * coefficient B = (σ−μ)/(σ+μ). Daily counts are exact integers, so
    * μ, the exact sum of squares, and the sample variance
    * (Σc² − n·μ²)/(n−1) are shared-formula arithmetic over exact
    * BIGINTs — nothing order-sensitive anywhere. The daily table is
    * calendar-bounded; the corpus-sized work is one keyed count.
    */
  private val burstiness: QueryDef = {
    val mu = "(CAST(sc AS DOUBLE) / nd)"
    val v = s"((s2 - nd * $mu * $mu) / (nd - 1.0))"
    val fano = s"($v / $mu)"
    val bexp = s"((sqrt($v) - $mu) / (sqrt($v) + $mu))"
    QueryDef(
      "q_burstiness",
      (spark, sfDir) =>
        Tables.events(spark, sfDir)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("nd"), sum("c").as("sc"),
            sum(col("c") * col("c")).as("s2"), max("c").as("max_day"))
          .selectExpr("event_type", "nd", "sc", "max_day",
            s"${Ql.R(mu, 4)} AS mean_daily",
            s"${Ql.R(fano, 4)} AS fano",
            s"${Ql.R(bexp, 4)} AS burstiness")
          .orderBy("event_type"),
      Some(s"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        a AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
                 CAST(sum(c) AS BIGINT) AS sc,
                 CAST(sum(c * c) AS BIGINT) AS s2,
                 CAST(max(c) AS BIGINT) AS max_day
          FROM daily GROUP BY 1)
        SELECT event_type, nd, sc, max_day,
               ${Ql.R(mu, 4)} AS mean_daily,
               ${Ql.R(fano, 4)} AS fano,
               ${Ql.R(bexp, 4)} AS burstiness
        FROM a ORDER BY event_type
      """))
  }

  // ---------------------------------------------------------------- forecast backtest

  /** Rolling-origin forecast backtest of the two standard baselines —
    * naive (yesterday) and seasonal-naive (same weekday last week) —
    * over the per-type daily counts: MAE, MAPE, and MASE (Hyndman &
    * Koehler 2006; MASE = model MAE / naive MAE, the scale-free score
    * every forecasting bake-off reports). Daily counts are exact
    * integers, so every |error| is an exact BIGINT and both MAEs are
    * one exact divide; only MAPE's per-day ratios are summed as doubles
    * (rounded 4 dp). Evaluation restricts to days where BOTH lags
    * exist, so the two MAEs cover the identical day set. The corpus
    * pass is one keyed daily count; everything after runs on the
    * calendar-bounded table with type-partitioned lag windows.
    */
  private val forecastEval = QueryDef(
    "q_forecast_eval",
    (spark, sfDir) => {
      val daily = Tables.events(spark, sfDir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("l1", lag("c", 1).over(w))
        .withColumn("l7", lag("c", 7).over(w))
        .filter(col("l1").isNotNull && col("l7").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_eval"),
          sum(abs(col("c") - col("l1"))).as("ae1"),
          sum(abs(col("c") - col("l7"))).as("ae7"),
          sum(abs(col("c") - col("l1")).cast("double") / col("c")).as("pe1"))
        .selectExpr("event_type", "n_eval",
          s"${Ql.R("CAST(ae1 AS DOUBLE) / n_eval", 4)} AS mae_naive",
          s"${Ql.R("CAST(ae7 AS DOUBLE) / n_eval", 4)} AS mae_snaive",
          s"${Ql.R("100.0 * pe1 / n_eval", 4)} AS mape_naive",
          s"${Ql.R("CAST(ae7 AS DOUBLE) / ae1", 4)} AS mase_snaive")
        .orderBy("event_type")
    },
    Some(s"""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      lagged AS (
        SELECT event_type, c,
               lag(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
               lag(c, 7) OVER (PARTITION BY event_type ORDER BY day) AS l7
        FROM daily),
      a AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
               CAST(sum(abs(c - l1)) AS BIGINT) AS ae1,
               CAST(sum(abs(c - l7)) AS BIGINT) AS ae7,
               sum(CAST(abs(c - l1) AS DOUBLE) / c) AS pe1
        FROM lagged WHERE l1 IS NOT NULL AND l7 IS NOT NULL
        GROUP BY 1)
      SELECT event_type, n_eval,
             ${Ql.R("CAST(ae1 AS DOUBLE) / n_eval", 4)} AS mae_naive,
             ${Ql.R("CAST(ae7 AS DOUBLE) / n_eval", 4)} AS mae_snaive,
             ${Ql.R("100.0 * pe1 / n_eval", 4)} AS mape_naive,
             ${Ql.R("CAST(ae7 AS DOUBLE) / ae1", 4)} AS mase_snaive
      FROM a ORDER BY event_type
    """))

  // ---------------------------------------------------------------- quantile normalization

  /** Empirical-CDF (rank) normalization of the event-value feature per
    * type — the monotone transform that makes any distribution uniform
    * before cross-feature comparison — verified by its own decile
    * histogram (a uniformized feature must land ~n/10 per decile). The
    * inclusive CDF is exact arithmetic over the bounded cent GRID
    * (≤49k distinct cells by the 2-decimal construction): one corpus
    * pass collapses onto the grid, the cumulative count is a
    * type-PARTITIONED prefix window over grid rows, and the decile
    * index floor(10·cum/n) is an exact rational vs integer compare in
    * both engines. Nothing in the plan touches corpus rows after the
    * first aggregation.
    */
  private val quantileNormalize = QueryDef(
    "q_quantile_normalize",
    (spark, sfDir) => {
      val grid = Tables.events(spark, sfDir)
        .select(col("event_type"),
          Ql.r(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
        // decile of the inclusive empirical CDF, exact integer arithmetic
        .withColumn("decile",
          least(expr("(10 * cum) div n"), lit(9L)))
        .groupBy("event_type", "decile")
        .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_cells"))
        .orderBy("event_type", "decile")
    },
    Some("""
      WITH grid AS (
        SELECT event_type,
               CAST(round((value * 100) + 1e-9, 0) AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      cdf AS (
        SELECT event_type, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                 ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM grid)
      SELECT event_type,
             CAST(least((10 * cum) // n, 9) AS BIGINT) AS decile,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM cdf GROUP BY 1, 2 ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------- imputation eval

  /** Missing-value imputation with a measured error bar: mask a
    * deterministic 1/10 hash sample of the event values, impute them
    * with the per-type mean of the SURVIVING values, and report the
    * imputation RMSE and bias against the held-out truth — the
    * fill-and-audit loop every feature pipeline runs before shipping a
    * mean-impute. Mask membership is a pure hash function of the event
    * id (the q_aqp_sum_ci sampling idiom), per-type means are computed
    * over exact integer cents of unmasked rows only, and the error
    * sums run in doubles over exact integer differences (rounded 4 dp).
    * One corpus pass + a types-sized broadcast back — nothing grows
    * with the corpus but the first aggregation.
    */
  private val imputeEval = QueryDef(
    "q_impute_eval",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("event_type"),
          Ql.r(col("value") * 100, 0).cast("long").as("cents"),
          (expr(Ql.md5PrefixLong("CAST(event_id AS STRING)", 4)) % 10 === 0)
            .cast("long").as("masked"))
      val means = e.filter(col("masked") === 0)
        .groupBy("event_type")
        .agg(expr("CAST(sum(cents) AS DOUBLE) / count(*)").as("imp_cents"))
      e.filter(col("masked") === 1)
        .join(broadcast(means), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_masked"),
          Ql.r(expr("avg(imp_cents - cents) / 100.0"), 4).as("bias"),
          Ql.r(expr("sqrt(avg((imp_cents - cents) * (imp_cents - cents))) / 100.0"), 4)
            .as("rmse"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (
        SELECT event_type,
               CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS cents,
               CASE WHEN (${Ql.Md5PrefixLong("CAST(event_id AS VARCHAR)", 4)}) % 10 = 0
                    THEN 1 ELSE 0 END AS masked
        FROM events),
      means AS (
        SELECT event_type, CAST(sum(cents) AS DOUBLE) / count(*) AS imp_cents
        FROM e WHERE masked = 0 GROUP BY 1)
      SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_masked,
             ${Ql.R("avg(imp_cents - cents) / 100.0", 4)} AS bias,
             ${Ql.R("sqrt(avg((imp_cents - cents) * (imp_cents - cents))) / 100.0", 4)} AS rmse
      FROM e JOIN means ON e.event_type = means.event_type
      WHERE masked = 1
      GROUP BY 1 ORDER BY 1
    """))

  // ---------------------------------------------------------------- partial correlation

  /** First-order partial correlation ρ(quantity, price · discount) —
    * "does quantity still track price once discount is controlled for"
    * — from the three pairwise Pearson correlations by the standard
    * recursion ρ_xy·z = (ρ_xy − ρ_xz·ρ_yz)/√((1−ρ_xz²)(1−ρ_yz²)). One
    * corpus aggregation computes all three corr() built-ins (shared
    * shuffle); each is rounded to 6 dp BEFORE entering the shared
    * composition formula so both engines feed identical operands. The
    * raw correlation is reported next to the partial one — the
    * confounding delta IS the readout.
    */
  private val partialCorr: QueryDef = {
    val p = "(rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))"
    QueryDef(
      "q_partial_corr",
      (spark, sfDir) =>
        Tables.lineitem(spark, sfDir)
          .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"),
            col("l_discount").as("z"))
          .agg(count(lit(1)).as("n"),
            Ql.r(corr("x", "y"), 6).as("rxy"),
            Ql.r(corr("x", "z"), 6).as("rxz"),
            Ql.r(corr("y", "z"), 6).as("ryz"))
          .selectExpr("n", "rxy", "rxz", "ryz",
            s"${Ql.R(p, 6)} AS partial_rxy_z"),
      Some(s"""
        WITH a AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 ${Ql.R("corr(l_quantity, l_extendedprice)", 6)} AS rxy,
                 ${Ql.R("corr(l_quantity, l_discount)", 6)} AS rxz,
                 ${Ql.R("corr(l_extendedprice, l_discount)", 6)} AS ryz
          FROM lineitem)
        SELECT n, rxy, rxz, ryz, ${Ql.R(p, 6)} AS partial_rxy_z
        FROM a
      """))
  }

  // ---------------------------------------------------------------- one-way ANOVA

  /** One-way ANOVA of the event value across event types: F-statistic
    * and η² (variance explained by the grouping) from the textbook
    * between/within sum-of-squares identity SSB = Σ nᵢx̄ᵢ² − n·x̄²,
    * SSW = SST − SSB. Everything derives from three exact BIGINT
    * moments per group (n, Σcents, Σcents²) — ONE map-side-combined
    * aggregation over the corpus, then a 5-row reduce; the F and η²
    * arithmetic is shared formula text over those integers, so the
    * engines cannot drift. Σcents² bounds int64 to ~sf 1e3 (49k-cent
    * values; past that the second moment switches to double — noted,
    * not silent).
    */
  private val anova: QueryDef = {
    // k groups, n rows; SSB/SSW in cent^2 from exact sums
    val ssb = "(sum(CAST(s AS DOUBLE) * s / ng) - CAST(sum(s) AS DOUBLE) * sum(s) / sum(ng))"
    val ssw = "(sum(CAST(s2 AS DOUBLE)) - sum(CAST(s AS DOUBLE) * s / ng))"
    val f = s"(($ssb / (count(*) - 1)) / ($ssw / (sum(ng) - count(*))))"
    val eta2 = s"($ssb / ($ssb + $ssw))"
    QueryDef(
      "q_anova",
      (spark, sfDir) =>
        Tables.events(spark, sfDir)
          .select(col("event_type"),
            Ql.r(col("value") * 100, 0).cast("long").as("cents"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("ng"), sum("cents").as("s"),
            sum(col("cents") * col("cents")).as("s2"))
          .agg(
            count(lit(1)).as("k"),
            sum("ng").as("n"),
            Ql.r(expr(ssb) / 10000.0, 2).as("ssb_dollars2"),
            Ql.r(expr(ssw) / 10000.0, 2).as("ssw_dollars2"),
            Ql.r(expr(f), 4).as("f_stat"),
            Ql.r(expr(eta2), 6).as("eta_sq")),
      Some(s"""
        WITH g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
                 CAST(sum(CAST(${Ql.R("value * 100", 0)} AS BIGINT)) AS BIGINT) AS s,
                 CAST(sum(CAST(${Ql.R("value * 100", 0)} AS BIGINT)
                        * CAST(${Ql.R("value * 100", 0)} AS BIGINT)) AS BIGINT) AS s2
          FROM events GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(ng) AS BIGINT) AS n,
               ${Ql.R(s"$ssb / 10000.0", 2)} AS ssb_dollars2,
               ${Ql.R(s"$ssw / 10000.0", 2)} AS ssw_dollars2,
               ${Ql.R(f, 4)} AS f_stat,
               ${Ql.R(eta2, 6)} AS eta_sq
        FROM g
      """))
  }

  // ---------------------------------------------------------------- power analysis

  /** Two-proportion power analysis seeded from the PILOT data — "how
    * many users per arm does the next A/B need": observed conversion
    * rates under a deterministic md5 arm split (salt 'exp1'; a PILOT
    * partition of its own, not q_ab_test's percent-bucket assignment),
    * then the classical n = (z_{α/2}√(2p̄q̄) + z_β√(p₁q₁+p₂q₂))²/Δ²
    * per-arm sample size for 80% power at α=0.05, plus the same for a
    * +10% relative lift target. p̄ is the pooled rate of the SCENARIO
    * under test — (p₁+p₂ᵉ)/2 with the hypothesized p₂ᵉ, not the
    * observed pair — so the lift column sizes the lift hypothesis, not
    * the pilot's accident. All counts are exact integers; the formula
    * is shared text with the z constants written as plain decimal
    * literals (1.96, 0.8416) so both engines parse identical doubles —
    * no inverse-normal needed at runtime.
    */
  private val powerAnalysis: QueryDef = {
    val p1 = "(CAST(c1 AS DOUBLE) / n1)"
    val p2 = "(CAST(c2 AS DOUBLE) / n2)"
    // z-sum squared via explicit multiply — pow() is not bit-guaranteed
    // across libm implementations (NOTES.md fact #30). A zero effect
    // (p2 = p1, e.g. a pilot with no conversions) needs infinite n:
    // NULL by the same CASE in both engines (Spark ANSI raises on /0
    // where DuckDB emits inf — they'd diverge without the guard).
    def nFor(p2e: String) = {
      val pbar = s"(($p1 + $p2e) / 2.0)"
      val zsum = s"""(1.96 * sqrt(2.0 * $pbar * (1.0 - $pbar))
           + 0.8416 * sqrt($p1 * (1.0 - $p1) + $p2e * (1.0 - $p2e)))"""
      s"""CASE WHEN ($p2e - $p1) = 0.0 THEN NULL
              ELSE CAST(ceil(($zsum * $zsum)
                / (($p2e - $p1) * ($p2e - $p1))) AS BIGINT) END"""
    }
    QueryDef(
      "q_power_analysis",
      (spark, sfDir) => {
        val arms = Tables.events(spark, sfDir)
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" && col("value") > 180, 1L)
            .otherwise(0L)).as("conv"))
          .withColumn("arm",
            expr(Ql.md5PrefixLong("concat('exp1:', user_id)", 4)) % 2)
        arms.agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
            sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c1"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
            sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c2"))
          .selectExpr("n1", "c1", "n2", "c2",
            s"${Ql.R(p1, 6)} AS rate_a",
            s"${Ql.R(p2, 6)} AS rate_b",
            s"${nFor(p2)} AS n_detect_observed",
            s"${nFor(s"($p1 * 1.1)")} AS n_detect_10pct_lift")
      },
      Some(s"""
        WITH u AS (
          SELECT user_id,
                 max(CASE WHEN event_type = 'purchase' AND value > 180
                          THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY 1),
        a AS (
          SELECT user_id, conv,
                 (${Ql.Md5PrefixLong("'exp1:' || CAST(user_id AS VARCHAR)", 4)}) % 2 AS arm
          FROM u),
        s AS (
          SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c2
          FROM a)
        SELECT n1, c1, n2, c2,
               ${Ql.R(p1, 6)} AS rate_a,
               ${Ql.R(p2, 6)} AS rate_b,
               ${nFor(p2)} AS n_detect_observed,
               ${nFor(s"($p1 * 1.1)")} AS n_detect_10pct_lift
        FROM s
      """))
  }

  // ---------------------------------------------------------------- CUPED

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013) —
    * the pre-experiment-covariate adjustment every mature experiment
    * platform applies before the t-test: θ = cov(pre, post)/var(pre)
    * over per-user value sums from the first vs second half of the
    * window, adjusted metric Y − θ(X − X̄), and the headline
    * var(adjusted)/var(post) reduction factor (= 1 − ρ² by identity).
    * Per-user sums are exact BIGINT cents from ONE user-keyed pass;
    * cov/var come from the exact moment sums via shared formula text;
    * only the final ratios are doubles. The cut date is derived from
    * the data bounds as a 1-row broadcast, never a collect.
    */
  private val cuped: QueryDef = {
    val varPre = "(sxx - CAST(sx AS DOUBLE) * sx / n)"
    val varPost = "(syy - CAST(sy AS DOUBLE) * sy / n)"
    val covXY = "(sxy - CAST(sx AS DOUBLE) * sy / n)"
    val theta = s"($covXY / $varPre)"
    val reduction = s"(1.0 - ($covXY * $covXY) / ($varPre * $varPost))"
    QueryDef(
      "q_cuped",
      (spark, sfDir) => {
        val e = Tables.events(spark, sfDir)
          .select(col("user_id"), col("ts"),
            Ql.r(col("value") * 100, 0).cast("long").as("cents"))
        // exact integer date arithmetic: midpoint day of the observed
        // range (epoch-micros midpoints can straddle a midnight by ulps)
        val cut = e.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .selectExpr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT)) AS cut")
        val users = e.crossJoin(broadcast(cut))
          .groupBy("user_id")
          .agg(
            sum(when(to_date(col("ts")) < col("cut"), col("cents")).otherwise(0L)).as("x"),
            sum(when(to_date(col("ts")) >= col("cut"), col("cents")).otherwise(0L)).as("y"))
        users.agg(
            count(lit(1)).as("n"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .selectExpr("n",
            s"${Ql.R(s"$theta", 6)} AS theta",
            s"${Ql.R(s"$varPost / (n - 1.0) / 10000.0", 2)} AS var_post_dollars2",
            s"${Ql.R(s"$reduction", 6)} AS var_ratio_adjusted")
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, ts,
                 CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS cents
          FROM events),
        cut AS (
          SELECT min(CAST(ts AS DATE))
                 + CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) // 2 AS INT) AS cut
          FROM e),
        users AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN CAST(ts AS DATE) < cut THEN cents ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN CAST(ts AS DATE) >= cut THEN cents ELSE 0 END) AS BIGINT) AS y
          FROM e CROSS JOIN cut GROUP BY 1),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM users)
        SELECT n,
               ${Ql.R(theta, 6)} AS theta,
               ${Ql.R(s"$varPost / (n - 1.0) / 10000.0", 2)} AS var_post_dollars2,
               ${Ql.R(reduction, 6)} AS var_ratio_adjusted
        FROM m
      """))
  }

  // ---------------------------------------------------------------- ridge λ sweep (CV)

  /** Hyperparameter sweep with a held-out validation split — model
    * selection as TWO corpus passes regardless of grid size: pass one
    * accumulates the train-side normal-equation statistics (exact
    * BIGINTs, 80% of rows by a deterministic md5 split — the
    * q_train_split idiom), pass two scores EVERY λ's closed-form β on
    * the 20% validation rows via a 4-row broadcast join (the grid rides
    * the broadcast, the corpus is read once). Validation RMSE is
    * reported in dollars: the sqrt compresses the summation-order
    * residue ~13 digits below the 4 dp rounding. The winning λ is
    * whichever row minimizes rmse — left to the reader like any lift
    * chart (deterministic ordering by λ keeps the output stable).
    */
  private val ridgeCv: QueryDef = {
    val det = "(CAST(s11 AS DOUBLE) + lam) * (s22 + lam) - CAST(s12 AS DOUBLE) * s12"
    val beta1 = s"((s22 + lam) * b1 - CAST(s12 AS DOUBLE) * b2) / ($det)"
    val beta2 = s"((CAST(s11 AS DOUBLE) + lam) * b2 - CAST(s12 AS DOUBLE) * b1) / ($det)"
    QueryDef(
      "q_ridge_cv",
      (spark, sfDir) => {
        val rows = Tables.lineitem(spark, sfDir)
          .select(
            col("l_quantity").cast("long").as("x1"),
            Ql.r(col("l_discount") * 100, 0).cast("long").as("x2"),
            Ql.r(col("l_extendedprice") * 100, 0).cast("long").as("y"),
            (expr(Ql.md5PrefixLong("concat('cv:', l_orderkey, '-', l_linenumber)", 4))
              % 5 === 0).cast("long").as("holdout"))
        val stats = rows.filter(col("holdout") === 0)
          .agg(sum(col("x1") * col("x1")).as("s11"),
            sum(col("x1") * col("x2")).as("s12"),
            sum(col("x2") * col("x2")).as("s22"),
            sum(col("x1") * col("y")).as("b1"),
            sum(col("x2") * col("y")).as("b2"))
        // λ grid as plain decimal literals — power(10, k) is libm
        // territory (NOTES.md #30); literals parse identically
        val grid = stats
          .crossJoin(broadcast(spark.range(1, 5).selectExpr(
            """CASE id WHEN 1 THEN 100.0 WHEN 2 THEN 1000.0
                       WHEN 3 THEN 10000.0 ELSE 100000.0 END AS lam""")))
          .selectExpr("lam", s"$beta1 AS bb1", s"$beta2 AS bb2")
        rows.filter(col("holdout") === 1)
          .crossJoin(broadcast(grid))
          .selectExpr("lam",
            "(y - bb1 * x1 - bb2 * x2) AS resid")
          .groupBy("lam")
          .agg(count(lit(1)).as("n_val"),
            Ql.r(sqrt(avg(expr("resid * resid"))) / 100.0, 4).as("rmse_dollars"))
          .orderBy("lam")
      },
      Some(s"""
        WITH rows_ AS (
          SELECT CAST(l_quantity AS BIGINT) AS x1,
                 CAST(${Ql.R("l_discount * 100", 0)} AS BIGINT) AS x2,
                 CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT) AS y,
                 CASE WHEN (${Ql.Md5PrefixLong(
                   "'cv:' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)", 4)}) % 5 = 0
                      THEN 1 ELSE 0 END AS holdout
          FROM lineitem),
        stats AS (
          SELECT CAST(sum(x1 * x1) AS BIGINT) AS s11,
                 CAST(sum(x1 * x2) AS BIGINT) AS s12,
                 CAST(sum(x2 * x2) AS BIGINT) AS s22,
                 CAST(sum(x1 * y) AS BIGINT) AS b1,
                 CAST(sum(x2 * y) AS BIGINT) AS b2
          FROM rows_ WHERE holdout = 0),
        grid AS (
          SELECT CASE lam_exp WHEN 1 THEN 100.0 WHEN 2 THEN 1000.0
                              WHEN 3 THEN 10000.0 ELSE 100000.0 END AS lam,
                 $beta1 AS bb1, $beta2 AS bb2
          FROM stats CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS lam_exp)),
        scored AS (
          SELECT lam, (y - bb1 * x1 - bb2 * x2) AS resid
          FROM rows_ CROSS JOIN grid WHERE holdout = 1)
        SELECT lam, CAST(count(*) AS BIGINT) AS n_val,
               ${Ql.R("sqrt(avg(resid * resid)) / 100.0", 4)} AS rmse_dollars
        FROM scored GROUP BY 1 ORDER BY lam
      """))
  }

  // ---------------------------------------------------------------- median CI

  /** Distribution-free confidence interval for the median by order
    * statistics (the binomial/sign construction: the true median lies
    * between order statistics k_lo = ⌈n/2 − z√n/2⌉ and
    * k_hi = ⌈n/2 + z√n/2⌉ with ~95% confidence — no normality
    * assumption, exact data values as endpoints). Ranks come from the
    * type-partitioned cumulative counts over the bounded cent grid
    * (the q_quantile_normalize machinery); the three reported values
    * are the grid values whose cumulative count first reaches each
    * target rank — integer-exact selection, no interpolation to
    * diverge. The rank targets use ceil over a shared sqrt expression.
    */
  private val medianCi = QueryDef(
    "q_median_ci",
    (spark, sfDir) => {
      val grid = Tables.events(spark, sfDir)
        .select(col("event_type"),
          Ql.r(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = grid
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
        .withColumn("k_med", expr("CAST(ceil(n / 2.0) AS BIGINT)"))
        .withColumn("k_lo", expr("CAST(ceil(n / 2.0 - 0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT)"))
        .withColumn("k_hi", expr("CAST(ceil(n / 2.0 + 0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT)"))
      cdf.groupBy("event_type")
        .agg(max("n").as("n"),
          min(when(col("cum") >= col("k_lo"), col("c"))).as("lo_cents"),
          min(when(col("cum") >= col("k_med"), col("c"))).as("med_cents"),
          min(when(col("cum") >= col("k_hi"), col("c"))).as("hi_cents"))
        .selectExpr("event_type", "n",
          s"${Ql.R("lo_cents / 100.0", 2)} AS ci_lo",
          s"${Ql.R("med_cents / 100.0", 2)} AS median",
          s"${Ql.R("hi_cents / 100.0", 2)} AS ci_hi")
        .orderBy("event_type")
    },
    Some(s"""
      WITH grid AS (
        SELECT event_type, CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      cdf AS (
        SELECT event_type, c,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                 ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM grid),
      k AS (
        SELECT event_type, c, cum, n,
               CAST(ceil(n / 2.0) AS BIGINT) AS k_med,
               CAST(ceil(n / 2.0 - 0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS k_lo,
               CAST(ceil(n / 2.0 + 0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS k_hi
        FROM cdf)
      SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             ${Ql.R("min(CASE WHEN cum >= k_lo THEN c END) / 100.0", 2)} AS ci_lo,
             ${Ql.R("min(CASE WHEN cum >= k_med THEN c END) / 100.0", 2)} AS median,
             ${Ql.R("min(CASE WHEN cum >= k_hi THEN c END) / 100.0", 2)} AS ci_hi
      FROM k GROUP BY 1 ORDER BY 1
    """))

  // ---------------------------------------------------------------- Welch's t-test

  /** Welch's unequal-variance t-test between the md5 pilot arms on the
    * purchase value — the continuous-metric sibling of q_ab_test's
    * two-proportion z (variances unknown and unequal, the DEFAULT for
    * revenue metrics): t from exact per-arm moment sums, plus the
    * Welch–Satterthwaite effective degrees of freedom. All moments are
    * exact BIGINT cent sums from one pass; t and df are shared formula
    * text. No p-value — the t CDF needs special functions neither
    * engine guarantees bit-identically; the (t, df) pair IS the
    * decision input, as in every stats library's summary line.
    */
  private val welchTtest: QueryDef = {
    val m1 = "(CAST(s1 AS DOUBLE) / n1)"
    val m2 = "(CAST(s2_ AS DOUBLE) / n2)"
    val v1 = s"((q1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1.0))"
    val v2 = s"((q2 - CAST(s2_ AS DOUBLE) * s2_ / n2) / (n2 - 1.0))"
    val se2 = s"($v1 / n1 + $v2 / n2)"
    val t = s"(($m1 - $m2) / sqrt($se2))"
    val df = s"(($se2 * $se2) / (($v1 / n1) * ($v1 / n1) / (n1 - 1.0) + ($v2 / n2) * ($v2 / n2) / (n2 - 1.0)))"
    QueryDef(
      "q_welch_ttest",
      (spark, sfDir) =>
        Tables.events(spark, sfDir)
          .filter(col("event_type") === "purchase")
          .select(Ql.r(col("value") * 100, 0).cast("long").as("cents"),
            (expr(Ql.md5PrefixLong("concat('exp1:', user_id)", 4)) % 2).as("arm"))
          .agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
            sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("s1"),
            sum(when(col("arm") === 0, col("cents") * col("cents")).otherwise(0L)).as("q1"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
            sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("s2_"),
            sum(when(col("arm") === 1, col("cents") * col("cents")).otherwise(0L)).as("q2"))
          .selectExpr("n1", "n2",
            s"${Ql.R(s"$m1 / 100.0", 4)} AS mean_a",
            s"${Ql.R(s"$m2 / 100.0", 4)} AS mean_b",
            s"${Ql.R(t, 4)} AS t_stat",
            s"${Ql.R(df, 2)} AS df_welch"),
      Some(s"""
        WITH e AS (
          SELECT CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS cents,
                 (${Ql.Md5PrefixLong("'exp1:' || CAST(user_id AS VARCHAR)", 4)}) % 2 AS arm
          FROM events WHERE event_type = 'purchase'),
        m AS (
          SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS s1,
                 CAST(sum(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END) AS BIGINT) AS q1,
                 CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS s2_,
                 CAST(sum(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END) AS BIGINT) AS q2
          FROM e)
        SELECT n1, n2,
               ${Ql.R(s"$m1 / 100.0", 4)} AS mean_a,
               ${Ql.R(s"$m2 / 100.0", 4)} AS mean_b,
               ${Ql.R(t, 4)} AS t_stat,
               ${Ql.R(df, 2)} AS df_welch
        FROM m
      """))
  }

  // ---------------------------------------------------------------- Hill tail index

  /** Hill estimator of the order-value tail index over the top-200
    * order statistics — the heavy-tail diagnostic behind "can we
    * mean-impute this metric or does the tail own the sum" (α ≤ 2
    * means infinite variance, percentile methods only). The top-k is a
    * TakeOrderedAndProject head (value DESC, key tiebreak — a k-row
    * heap per partition, no global sort); the estimator
    * α̂ = 1/(mean(ln xᵢ) − ln x₍ₖ₎) runs over the 200-row frame with
    * the threshold x₍ₖ₎ as a 1-row broadcast. Values are exact
    * 2-decimal dollars, so both engines feed libm identical ln
    * operands; the mean-of-logs is rounded before the reciprocal.
    */
  private val tailIndex = QueryDef(
    "q_tail_index",
    (spark, sfDir) => {
      val top = Tables.orders(spark, sfDir)
        .select(col("o_totalprice").as("x"), col("o_orderkey"))
        .orderBy(col("x").desc, col("o_orderkey")).limit(200)
      val xk = top.agg(min("x").as("xk"))
      top.crossJoin(broadcast(xk))
        .agg(count(lit(1)).as("k"),
          Ql.r(max("x"), 2).as("x_max"),
          Ql.r(min("x"), 2).as("x_k"),
          Ql.r(avg(expr("ln(x)")) - expr("ln(min(xk))"), 6).as("mean_excess_log"))
        .selectExpr("k", "x_max", "x_k", "mean_excess_log",
          s"${Ql.R("1.0 / mean_excess_log", 4)} AS hill_alpha")
    },
    Some(s"""
      WITH top AS (
        SELECT o_totalprice AS x FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 200),
      xk AS (SELECT min(x) AS xk FROM top),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               ${Ql.R("max(x)", 2)} AS x_max,
               ${Ql.R("min(x)", 2)} AS x_k,
               ${Ql.R("avg(ln(x)) - ln(min(xk.xk))", 6)} AS mean_excess_log
        FROM top CROSS JOIN xk)
      SELECT k, x_max, x_k, mean_excess_log,
             ${Ql.R("1.0 / mean_excess_log", 4)} AS hill_alpha
      FROM a
    """))

  // ---------------------------------------------------------------- Gumbel block maxima

  /** Extreme-value capacity planning: fit a Gumbel distribution to the
    * DAILY MAXIMUM event value per type by the method of moments
    * (β̂ = s·√6/π, μ̂ = x̄ − γβ̂ with γ, √6/π as shared decimal
    * literals) and report the 30-day return level μ̂ − β̂·ln(−ln(1−1/30))
    * — "the value you should expect to see exceeded about once a
    * month". Block maxima are exact integer cents from one keyed
    * aggregation over the calendar-bounded daily table; mean and
    * sample std come from exact moment sums; every constant is a
    * decimal literal so no engine touches libm beyond ln/sqrt on
    * identical operands.
    */
  private val extremeValue: QueryDef = {
    val mean = "(CAST(sm AS DOUBLE) / nd)"
    val sd = s"sqrt((s2m - nd * $mean * $mean) / (nd - 1.0))"
    val beta = s"($sd * 0.7796968012336293)" // sqrt(6)/pi
    val mu = s"($mean - 0.5772156649015329 * $beta)" // Euler-Mascheroni
    val ret30 = s"($mu - $beta * ln(-ln(1.0 - 1.0/30.0)))"
    QueryDef(
      "q_extreme_value",
      (spark, sfDir) =>
        Tables.events(spark, sfDir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(max(Ql.r(col("value") * 100, 0).cast("long")).as("mx"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("nd"), sum("mx").as("sm"),
            sum(col("mx") * col("mx")).as("s2m"))
          .selectExpr("event_type", "nd",
            s"${Ql.R(s"$mean / 100.0", 2)} AS mean_daily_max",
            s"${Ql.R(s"$beta / 100.0", 4)} AS gumbel_beta",
            s"${Ql.R(s"$mu / 100.0", 4)} AS gumbel_mu",
            s"${Ql.R(s"$ret30 / 100.0", 2)} AS return_level_30d")
          .orderBy("event_type"),
      Some(s"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 max(CAST(${Ql.R("value * 100", 0)} AS BIGINT)) AS mx
          FROM events GROUP BY 1, 2),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
                 CAST(sum(mx) AS BIGINT) AS sm,
                 CAST(sum(mx * mx) AS BIGINT) AS s2m
          FROM daily GROUP BY 1)
        SELECT event_type, nd,
               ${Ql.R(s"$mean / 100.0", 2)} AS mean_daily_max,
               ${Ql.R(s"$beta / 100.0", 4)} AS gumbel_beta,
               ${Ql.R(s"$mu / 100.0", 4)} AS gumbel_mu,
               ${Ql.R(s"$ret30 / 100.0", 2)} AS return_level_30d
        FROM m ORDER BY event_type
      """))
  }

  // ---------------------------------------------------------------- Mann-Kendall + Sen

  /** Mann-Kendall trend test AND Theil-Sen slope of the daily count
    * series per type — the robust monotone-trend pair (no linearity or
    * normality assumption; the regulatory-monitoring standard next to
    * q_linear_trend's OLS). Both need all day PAIRS — legitimate
    * because the daily table is CALENDAR-BOUNDED (the pair join is
    * days², not corpus²; at 10 years ≈ 6.7M pairs per type, still
    * trivial). S and the tie-corrected variance are exact integers;
    * the Sen slope is the exact median over interpolated pair slopes
    * (both engines use the (n−1)p percentile definition, operands are
    * exact integer ratios).
    */
  private val mannKendall = QueryDef(
    "q_mann_kendall",
    (spark, sfDir) => {
      val daily = Tables.events(spark, sfDir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val pairs = daily.as("a")
        .join(daily.as("b"), Seq("event_type"))
        .filter(col("a.day") < col("b.day"))
        .select(col("event_type"),
          signum(col("b.c") - col("a.c")).cast("long").as("sgn"),
          ((col("b.c") - col("a.c")).cast("double")
            / datediff(col("b.day"), col("a.day"))).as("slope"))
      pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum("sgn").as("s_stat"),
          Ql.r(expr("percentile(slope, 0.5)"), 4).as("sen_slope"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      pairs AS (
        SELECT a.event_type,
               CAST(sign(b.c - a.c) AS BIGINT) AS sgn,
               CAST(b.c - a.c AS DOUBLE) / date_diff('day', a.day, b.day) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(sgn) AS BIGINT) AS s_stat,
             ${Ql.R("percentile_cont(0.5) WITHIN GROUP (ORDER BY slope)", 4)} AS sen_slope
      FROM pairs GROUP BY 1 ORDER BY 1
    """))

  // ---------------------------------------------------------------- SPC control chart

  /** Shewhart individuals (XmR) control chart over the daily mean
    * value per type — the SPC monitor that predates every ML drift
    * detector and still gates factory dashboards: center line x̄,
    * moving-range mean MR̄ from consecutive-day |differences|, control
    * limits x̄ ± 2.66·MR̄ (the d2-derived constant as a shared decimal
    * literal), and the out-of-control day count. Daily means are
    * rounded at 6 dp before differencing (the q_ewma_daily contract);
    * all downstream arithmetic is shared formula text over the
    * calendar-bounded daily table with type-partitioned lag windows.
    */
  private val spcChart: QueryDef = {
    val ucl = "(xbar + 2.66 * mrbar)"
    val lcl = "(xbar - 2.66 * mrbar)"
    QueryDef(
      "q_spc_chart",
      (spark, sfDir) => {
        val daily = Tables.events(spark, sfDir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(Ql.r(avg(col("value")), 6).as("x"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val withMr = daily
          .withColumn("mr", abs(col("x") - lag("x", 1).over(w)))
        val limits = withMr.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            Ql.r(avg("x"), 6).as("xbar"),
            Ql.r(avg("mr"), 6).as("mrbar"))
        withMr.join(broadcast(limits), "event_type")
          .groupBy("event_type")
          .agg(max("n_days").as("n_days"),
            Ql.r(max("xbar"), 4).as("center"),
            Ql.r(max(expr(ucl)), 4).as("ucl"),
            Ql.r(max(expr(lcl)), 4).as("lcl"),
            sum(when(col("x") > expr(ucl) || col("x") < expr(lcl), 1L)
              .otherwise(0L)).as("n_out_of_control"))
          .orderBy("event_type")
      },
      Some(s"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 ${Ql.R("avg(value)", 6)} AS x
          FROM events GROUP BY 1, 2),
        mr AS (
          SELECT event_type, x,
                 abs(x - lag(x, 1) OVER (PARTITION BY event_type ORDER BY day)) AS mr
          FROM daily),
        lim AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                 ${Ql.R("avg(x)", 6)} AS xbar,
                 ${Ql.R("avg(mr)", 6)} AS mrbar
          FROM mr GROUP BY 1)
        SELECT mr.event_type, max(n_days) AS n_days,
               ${Ql.R("max(xbar)", 4)} AS center,
               ${Ql.R(s"max($ucl)", 4)} AS ucl,
               ${Ql.R(s"max($lcl)", 4)} AS lcl,
               CAST(sum(CASE WHEN x > $ucl OR x < $lcl THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_out_of_control
        FROM mr JOIN lim ON mr.event_type = lim.event_type
        GROUP BY 1 ORDER BY 1
      """))
  }

  // ---------------------------------------------------------------- Bloom sizing

  /** Bloom-filter capacity planner for the decontamination membership
    * sets (the design pass in front of q_bloom_decontam): per language,
    * the distinct 5-gram count n drives the textbook sizing
    * m = ⌈n·(−ln p)/ln²2⌉ bits and k = round((m/n)·ln 2) hashes for
    * target false-positive rates 1% and 0.1%. The corpus-sized work is
    * ONE distinct-shingle count per language (5-grams hashed to 56-bit
    * ints post-explode, the q_contamination idiom); the sizing
    * arithmetic runs on the languages×2 grid with every transcendental
    * constant written as a shared decimal literal (−ln p and 1/ln²2
    * precomputed — no libm at query time at all).
    */
  private val bloomSizing: QueryDef = {
    // -ln(0.01), -ln(0.001), 1/ln(2)^2, ln(2) as literals
    val cases = Seq(("0.01", "4.605170185988091"), ("0.001", "6.907755278982137"))
    def sizing(nlp: String) = (
      s"CAST(ceil(n * $nlp * 2.0813689810056077) AS BIGINT)", // m bits
      s"CAST(${Ql.R(s"(ceil(n * $nlp * 2.0813689810056077) / n) * 0.6931471805599453", 0)} AS BIGINT)") // k
    QueryDef(
      "q_bloom_sizing",
      (spark, sfDir) => {
        val grams = Tables.documents(spark, sfDir)
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 5)
          .select(col("lang"), explode(expr(
            "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))"))
            .as("sh0"))
          .select(col("lang"), expr(Ql.md5PrefixLong("sh0", 14)).as("sh"))
          .groupBy("lang")
          .agg(countDistinct("sh").as("n"))
        cases.map { case (p, nlp) =>
          val (m, k) = sizing(nlp)
          grams.selectExpr("lang", s"CAST($p AS DOUBLE) AS target_fpr", "n",
            s"$m AS m_bits", s"$k AS k_hashes",
            s"${Ql.R(s"ceil(n * $nlp * 2.0813689810056077) / 8388608.0", 4)} AS mbytes")
        }.reduce(_.unionByName(_)).orderBy("lang", "target_fpr")
      },
      Some {
        val branches = cases.map { case (p, nlp) =>
          val (m, k) = sizing(nlp)
          s"""SELECT lang, CAST($p AS DOUBLE) AS target_fpr, n,
                 $m AS m_bits, $k AS k_hashes,
                 ${Ql.R(s"ceil(n * $nlp * 2.0813689810056077) / 8388608.0", 4)} AS mbytes
             FROM grams"""
        }.mkString("\nUNION ALL\n")
        s"""
        WITH toks AS (
          SELECT lang, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= 5),
        sh AS (
          SELECT lang,
                 ${Ql.Md5PrefixLong("array_to_string(t[i:i+4], ' ')", 14)} AS sh
          FROM (SELECT lang, t, unnest(generate_series(1, len(t) - 4)) AS i
                FROM toks)),
        grams AS (
          SELECT lang, CAST(count(DISTINCT sh) AS BIGINT) AS n
          FROM sh GROUP BY 1)
        $branches
        ORDER BY lang, target_fpr
      """
      })
  }

  // ---------------------------------------------------------------- RLE layout audit

  /** Run-length-encoding benefit of clustering — the compression twin
    * of q_zone_map_audit's pruning story: the SAME rows sharded by
    * md5 hash vs clustered by ship month, and for each layout the
    * number of `l_returnflag` value RUNS under the within-shard sort
    * order (runs ≈ pages after RLE; fewer runs = better compression).
    * Run counting is a lag window PARTITIONED BY SHARD (64/84-way
    * distributed, never global) over exact values — pure integer
    * output. The clustered layout wins because returnflag correlates
    * with ship date; the audit states that delta as numbers.
    */
  private val rleLayout: QueryDef = {
    def runsFor(shardExpr: String, layout: String) = (spark: org.apache.spark.sql.SparkSession, sfDir: String) => {
      val base = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_shipdate"))
        .withColumn("shard", expr(shardExpr))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data
      // (duplicated lines exist) — the flag itself closes the sort key
      // so tied rows group identical values adjacently in BOTH engines
      val w = Window.partitionBy("shard")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_returnflag")
      base
        .withColumn("prev", lag("l_returnflag", 1).over(w))
        .select(lit(layout).as("layout"),
          when(col("prev").isNull || col("prev") =!= col("l_returnflag"), 1L)
            .otherwise(0L).as("is_run_start"))
    }
    QueryDef(
      "q_rle_layout",
      (spark, sfDir) => {
        val hash = runsFor(
          s"${Ql.md5PrefixLong("concat(l_orderkey, '-', l_linenumber)", 4)} % 64",
          "hash64")(spark, sfDir)
        val clustered = runsFor(
          "year(l_shipdate) * 12 + month(l_shipdate)", "month_clustered")(spark, sfDir)
        hash.unionByName(clustered)
          .groupBy("layout")
          .agg(count(lit(1)).as("n_rows"), sum("is_run_start").as("n_runs"))
          .selectExpr("layout", "n_rows", "n_runs",
            s"${Ql.R("CAST(n_rows AS DOUBLE) / n_runs", 2)} AS avg_run_len")
          .orderBy("layout")
      },
      Some(s"""
        WITH base AS (
          SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate FROM lineitem),
        hash_runs AS (
          SELECT 'hash64' AS layout,
                 CASE WHEN lag(l_returnflag) OVER (
                        PARTITION BY (${Ql.Md5PrefixLong("CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)", 4)}) % 64
                        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_returnflag)
                      IS DISTINCT FROM l_returnflag THEN 1 ELSE 0 END AS is_run_start
          FROM base),
        month_runs AS (
          SELECT 'month_clustered' AS layout,
                 CASE WHEN lag(l_returnflag) OVER (
                        PARTITION BY year(l_shipdate) * 12 + month(l_shipdate)
                        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_returnflag)
                      IS DISTINCT FROM l_returnflag THEN 1 ELSE 0 END AS is_run_start
          FROM base),
        u AS (SELECT * FROM hash_runs UNION ALL SELECT * FROM month_runs)
        SELECT layout, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(is_run_start) AS BIGINT) AS n_runs,
               ${Ql.R("CAST(count(*) AS DOUBLE) / sum(is_run_start)", 2)} AS avg_run_len
        FROM u GROUP BY 1 ORDER BY 1
      """))
  }

  // ---------------------------------------------------------------- quantile regression

  /** Median (τ=0.5) regression of price on quantity by pinball-loss
    * grid search — the robust-fit companion to the OLS/ridge family
    * (L1 regression has no closed form; the grid is the distributed
    * answer: K candidate slopes ride ONE broadcast, the corpus is read
    * once, and each candidate's loss is ONE conditional aggregate in a
    * single HashAggregate — no 21× row explosion, no extra shuffle
    * volume at any corpus size; the 1-row result unpivots to the grid
    * via stack()). Candidate slopes are integer cents-per-unit
    * (50k..250k step 10k, bracketing the unit-price range); residuals
    * are exact integers, so the loss is an exact 0.5·|r| sum scaled ×2
    * to stay integral, and the winner is an integer argmin — no float
    * anywhere until the report.
    */
  private val quantileRegression: QueryDef = {
    val slopes = (0 to 20).map(50000 + _ * 10000)
    QueryDef(
      "q_quantile_regression",
      (spark, sfDir) => {
        val rows = Tables.lineitem(spark, sfDir)
          .select(col("l_quantity").cast("long").as("x"),
            Ql.r(col("l_extendedprice") * 100, 0).cast("long").as("y"))
        val aggs = slopes.map(s =>
          sum(abs(col("y") - lit(s.toLong) * col("x"))).as(s"l$s"))
        rows.agg(count(lit(1)).as("n"), aggs: _*)
          .selectExpr("n",
            s"stack(21, ${slopes.map(s => s"CAST($s AS BIGINT), l$s").mkString(", ")}) AS (slope, loss2x)")
          .selectExpr("slope", "n", "loss2x",
            s"${Ql.R("loss2x / (2.0 * n) / 100.0", 4)} AS mean_pinball_dollars")
          .orderBy("loss2x", "slope")
          .limit(5)
      },
    Some(s"""
      WITH rows_ AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT) AS y
        FROM lineitem),
      grid AS (SELECT 50000 + unnest(generate_series(0, 20)) * 10000 AS slope),
      scored AS (
        SELECT slope, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(abs(y - slope * x)) AS BIGINT) AS loss2x
        FROM rows_ CROSS JOIN grid GROUP BY 1)
      SELECT slope, n, loss2x,
             ${Ql.R("loss2x / (2.0 * n) / 100.0", 4)} AS mean_pinball_dollars
      FROM scored ORDER BY loss2x, slope LIMIT 5
    """))
  }

  // ---------------------------------------------------------------- price elasticity

  /** Discount elasticity of demand — the ln-ln OLS the pricing team
    * runs: aggregate quantity per discount level (11 levels, exact
    * integers), regress ln(total quantity) on ln(1 − discount)
    * effective-price factor with the regr_* built-ins over the
    * 11-point table. The corpus-sized work is one keyed sum; the fit
    * sees only the level table. With X = ln(1 − discount), a deeper
    * discount LOWERS X — so volume rising with discount depth shows up
    * as a NEGATIVE slope (the usual sign of a price elasticity); the
    * magnitude is the (local) elasticity estimate. Level
    * keys are exact integer basis points; logs run on identical
    * operands in both engines and the fit is rounded at 4 dp.
    */
  private val priceElasticity = QueryDef(
    "q_price_elasticity",
    (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .select(Ql.r(col("l_discount") * 100, 0).cast("long").as("disc_pts"),
          col("l_quantity").cast("long").as("q"))
        .groupBy("disc_pts")
        .agg(count(lit(1)).as("n_lines"), sum("q").as("total_qty"))
        .agg(
          count(lit(1)).as("n_levels"),
          sum("n_lines").as("n_lines"),
          Ql.r(expr(
            "regr_slope(ln(CAST(total_qty AS DOUBLE)), ln(1.0 - disc_pts / 100.0))"), 4)
            .as("elasticity"),
          Ql.r(expr(
            "regr_r2(ln(CAST(total_qty AS DOUBLE)), ln(1.0 - disc_pts / 100.0))"), 4)
            .as("r2")),
    Some(s"""
      WITH lvl AS (
        SELECT CAST(${Ql.R("l_discount * 100", 0)} AS BIGINT) AS disc_pts,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem GROUP BY 1)
      SELECT CAST(count(*) AS BIGINT) AS n_levels,
             CAST(sum(n_lines) AS BIGINT) AS n_lines,
             ${Ql.R("regr_slope(ln(CAST(total_qty AS DOUBLE)), ln(1.0 - disc_pts / 100.0))", 4)} AS elasticity,
             ${Ql.R("regr_r2(ln(CAST(total_qty AS DOUBLE)), ln(1.0 - disc_pts / 100.0))", 4)} AS r2
      FROM lvl
    """))

  // ---------------------------------------------------------------- calendar gaps

  /** Data-freshness / continuity audit of the event feed: per type,
    * the observed day count vs the calendar span, the LONGEST gap
    * between consecutive present days, and when it started — the "did
    * ingestion silently skip days" check every pipeline dashboard
    * needs. One keyed distinct-day aggregation (corpus-sized, map-side
    * combined), then lag windows over the calendar-bounded day table;
    * everything is exact integer day arithmetic, and the worst gap is
    * picked on (gap DESC, day) so ties cannot diverge the engines.
    */
  private val calendarGaps = QueryDef(
    "q_calendar_gaps",
    (spark, sfDir) => {
      val days = Tables.events(spark, sfDir)
        .select(col("event_type"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("event_type").orderBy("day")
      days
        .withColumn("gap", datediff(col("day"), lag("day", 1).over(w)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          (datediff(max("day"), min("day")) + 1).cast("long").as("span_days"),
          max(coalesce(col("gap"), lit(1))).cast("long").as("max_gap_days"),
          date_format(min("day"), "yyyy-MM-dd").as("first_day"),
          date_format(max("day"), "yyyy-MM-dd").as("last_day"))
        .withColumn("missing_days", col("span_days") - col("n_days"))
        .orderBy("event_type")
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events),
      g AS (
        SELECT event_type, day,
               date_diff('day', lag(day) OVER (PARTITION BY event_type ORDER BY day), day) AS gap
        FROM days)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT) AS span_days,
             CAST(max(COALESCE(gap, 1)) AS BIGINT) AS max_gap_days,
             strftime(min(day), '%Y-%m-%d') AS first_day,
             strftime(max(day), '%Y-%m-%d') AS last_day,
             CAST(date_diff('day', min(day), max(day)) + 1 - count(*) AS BIGINT) AS missing_days
      FROM g GROUP BY 1 ORDER BY 1
    """))

  // ---------------------------------------------------------------- duplication rate

  /** Per-source exact-duplication scoreboard — the rollup a curation
    * run reports before anyone asks "how dirty is this source":
    * sha-256 content groups per source, the document vs distinct-
    * content counts, the duplication rate, and the wasted bytes
    * (chars beyond one copy per group). One hash-keyed aggregation
    * (the q_dedup_exact digest discipline — the shuffle moves 32-byte
    * hashes) followed by a sources-sized rollup; all counts exact
    * BIGINTs, the rate one rounded divide.
    */
  private val dupRate = QueryDef(
    "q_dup_rate",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("source"), sha2(col("text"), 256).as("h"),
          col("n_chars"))
        .groupBy("source", "h")
        .agg(count(lit(1)).as("copies"), sum("n_chars").as("chars"),
          min("n_chars").as("keep_chars"))
        .groupBy("source")
        .agg(sum("copies").as("n_docs"),
          count(lit(1)).as("n_unique"),
          sum(col("chars") - col("keep_chars")).as("wasted_chars"))
        .selectExpr("source", "n_docs", "n_unique",
          "n_docs - n_unique AS n_dup_docs",
          s"${Ql.R("100.0 * (n_docs - n_unique) / n_docs", 4)} AS dup_pct",
          "wasted_chars")
        .orderBy("source"),
    Some(s"""
      WITH g AS (
        SELECT source, sha256(text) AS h,
               CAST(count(*) AS BIGINT) AS copies,
               CAST(sum(n_chars) AS BIGINT) AS chars,
               CAST(min(n_chars) AS BIGINT) AS keep_chars
        FROM documents GROUP BY 1, 2)
      SELECT source, CAST(sum(copies) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_unique,
             CAST(sum(copies) - count(*) AS BIGINT) AS n_dup_docs,
             ${Ql.R("100.0 * (sum(copies) - count(*)) / sum(copies)", 4)} AS dup_pct,
             CAST(sum(chars - keep_chars) AS BIGINT) AS wasted_chars
      FROM g GROUP BY 1 ORDER BY 1
    """))

  /** Delete-one-day jackknife standard error for the revenue-per-event
    * RATIO metric (Quenouille/Tukey; the estimator every experimentation
    * platform uses when the unit of randomization is a cluster — here a
    * day — so the naive per-event variance is wrong and the delta method
    * needs a derivative nobody wants to maintain). One exact-cents pass
    * builds the per-day (Σcents, count) table; every leave-one-out ratio
    * θ₍₋ᵢ₎ = (S−sᵢ)/(C−cᵢ) is computed against the 1-row totals
    * broadcast, pre-rounded at 6 dp so both engines fold identical
    * terms; var = (n−1)/n · Σ(θ₍₋ᵢ₎ − mean)². Reports θ, SE, 95% CI.
    */
  private val jackknifeSe: QueryDef = {
    val theta = "(CAST(st AS DOUBLE) / ct / 100.0)"
    // s1/s2 arrive as exact micro-unit integers (see below); rescale to
    // cents HERE, in one shared formula string, so both engines run the
    // identical double ops on identical integers
    val s1d = "(CAST(s1 AS DOUBLE) / 1e6)"
    val s2d = "(CAST(s2 AS DOUBLE) / 1e12)"
    val se = s"(sqrt((nd - 1.0) / nd * ($s2d - $s1d * $s1d / nd)) / 100.0)"
    QueryDef(
      "q_jackknife_se",
      (spark, sfDir) => {
        val daily = Tables.events(spark, sfDir)
          .select(to_date(col("ts")).as("day"),
            Ql.r(col("value") * 100, 0).cast("long").as("cents"))
          .groupBy("day").agg(sum("cents").as("s"), count(lit(1)).as("c"))
        val tot = daily.agg(sum("s").as("st"), sum("c").as("ct"),
          count(lit(1)).as("nd"))
        // each leave-one-out ratio quantizes to a micro-unit BIGINT
        // BEFORE the Σθ / Σθ² folds (the q_kneser_ney discipline): the
        // sums become order-independent exact integers instead of
        // doubles whose accumulation order could split engines by an
        // ulp at the 6 dp SE boundary. Σθ² accumulates WIDE
        // (DECIMAL(38,0) / HUGEINT product) — loo_u² ≈ 1e16 per day, so
        // a year of days already strains a BIGINT accumulator.
        daily.crossJoin(broadcast(tot))
          .selectExpr("st", "ct", "nd",
            s"CAST(${Ql.R("1000000.0 * (st - s) / (ct - c)", 0)} AS BIGINT) AS loo_u")
          .groupBy("st", "ct", "nd")
          .agg(sum(col("loo_u")).as("s1"),
            // decimal(20,0) covers the FULL BIGINT range (1e18 would not:
            // an out-of-range loo_u nulls silently under Spark's
            // sum-skips-nulls while the HUGEINT oracle keeps the term — a
            // silent cross-engine divergence instead of a loud overflow)
            sum(col("loo_u").cast("decimal(20,0)") * col("loo_u")).as("s2"))
          .selectExpr("nd AS n_days",
            s"${Ql.R(theta, 4)} AS rev_per_event",
            s"${Ql.R(se, 6)} AS se_jackknife",
            s"${Ql.R(s"$theta - 1.96 * $se", 4)} AS ci_lo",
            s"${Ql.R(s"$theta + 1.96 * $se", 4)} AS ci_hi")
      },
      Some(s"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(${Ql.R("value * 100", 0)} AS BIGINT)) AS BIGINT) AS s,
                 count(*) AS c
          FROM events GROUP BY 1),
        tot AS (
          SELECT CAST(sum(s) AS BIGINT) AS st, CAST(sum(c) AS BIGINT) AS ct,
                 count(*) AS nd
          FROM daily),
        loo AS (
          SELECT st, ct, nd,
                 CAST(${Ql.R("1000000.0 * (st - s) / (ct - c)", 0)} AS BIGINT) AS loo_u
          FROM daily, tot),
        m AS (
          SELECT st, ct, nd, sum(loo_u) AS s1,
                 sum(CAST(loo_u AS HUGEINT) * loo_u) AS s2
          FROM loo GROUP BY 1, 2, 3)
        SELECT nd AS n_days,
               ${Ql.R(theta, 4)} AS rev_per_event,
               ${Ql.R(se, 6)} AS se_jackknife,
               ${Ql.R(s"$theta - 1.96 * $se", 4)} AS ci_lo,
               ${Ql.R(s"$theta + 1.96 * $se", 4)} AS ci_hi
        FROM m
      """))
  }

  /** Simpson's-paradox audit (Simpson 1951; Blyth 1972, public): the
    * per-segment vs pooled slope of event value against hour-of-day, and
    * a flag for segments whose association REVERSES sign when the
    * pooling collapses the segment structure — the aggregation-reversal
    * hazard every cross-source corpus dashboard needs checked before a
    * pooled trend is believed. All slopes come from exact BIGINT
    * sufficient statistics (x = hour ∈ 0..23, y = value cents):
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), with every product cast
    * to DOUBLE first — the pairwise IEEE ops on identical exact-integer
    * inputs are bit-deterministic across engines, where float
    * accumulation (regr_slope) would not be. The reversal flag compares
    * the ROUNDED slopes' signs so both engines decide from identical
    * doubles. One keyed aggregation over the corpus; the pooled row is a
    * 1-row broadcast.
    */
  private val simpsonParadox = QueryDef(
    "q_simpson_paradox",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("event_type"),
          hour(col("ts")).cast("long").as("x"),
          Ql.r(col("value") * 100, 0).cast("long").as("y"))
      val g = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
        .checkpointed // |types| rows feed the grid and the pooled fold
      val slope =
        """(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"""
      val pooled = g.agg(sum("n").as("n"), sum("sx").as("sx"),
          sum("sy").as("sy"), sum("sxy").as("sxy"), sum("sxx").as("sxx"))
        .selectExpr(s"${Ql.R(slope, 6)} AS pooled_slope")
      g.crossJoin(broadcast(pooled))
        .selectExpr("event_type", "n",
          s"${Ql.R(slope, 6)} AS segment_slope", "pooled_slope")
        .withColumn("reversed",
          (signum(col("segment_slope")) =!= signum(col("pooled_slope")))
            .cast("int"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (
        SELECT event_type,
               CAST(hour(ts) AS BIGINT) AS x,
               CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS y
        FROM events),
      g AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM e GROUP BY 1),
      pooled AS (
        SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
               CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxy) AS BIGINT) AS sxy,
               CAST(sum(sxx) AS BIGINT) AS sxx
        FROM g),
      ps AS (
        SELECT ${Ql.R(
            """(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)""", 6)}
          AS pooled_slope
        FROM pooled)
      SELECT event_type, n,
             ${Ql.R(
            """(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)""", 6)}
          AS segment_slope,
             pooled_slope,
             CAST(sign(${Ql.R(
            """(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)""", 6)})
               <> sign(pooled_slope) AS INT) AS reversed
      FROM g CROSS JOIN ps
      ORDER BY event_type
    """))

  /** Hurst exponent of the daily revenue series by rescaled-range (R/S)
    * analysis (Hurst 1951; Mandelbrot & Wallis 1969, public): H ≈ 0.5
    * means the series' daily fluctuations compound like a random walk,
    * H > 0.5 long-range persistence — the diagnostic that says whether
    * week-scale aggregates can be variance-extrapolated from day-scale
    * ones. For block sizes m ∈ {4,8,16,32}: split the day-indexed
    * series into complete m-day blocks, R = range of the within-block
    * cumulative deviation, S = population std, H = OLS slope of
    * ln(mean R/S) on ln m. Determinism is EXACT-INTEGER R/S algebra:
    * with P_k the integer cent prefix sum, the cumulative deviation
    * numerator m·P_k − k·ΣX and the variance m·ΣX² − (ΣX)² are BIGINT,
    * so R/S = (max−min)/sqrt(·) is two IEEE ops on exact integers;
    * per-block ratios become micro-unit BIGINTs before the per-m mean
    * (order-independent), and the ln m regressors are Scala-precomputed
    * literals. Day series and block tables are calendar-bounded; the
    * one unpartitioned row_number runs over the day table (whitelisted),
    * and in-block windows partition by (m, block).
    *
    * Scale ceiling (documented, the q_cohens_d lesson): the exact-integer
    * variance term m·Σc² stays inside BIGINT while daily revenue is
    * under ~5.4e8 cents (≈ $5.4M/day at m = 32) — four orders above this
    * corpus; past that, move c to DECIMAL(38,0)/HUGEINT in both twins.
    */
  /** ln(m)·10⁶ regressors for the four R/S block sizes, Scala-precomputed
    * integer literals shared by both dialects.
    */
  private val hurstXu: Seq[(Int, Long)] =
    Seq(4, 8, 16, 32).map(m => m -> math.round(math.log(m.toDouble) * 1e6))

  private val hurstExponent = QueryDef(
    "q_hurst_exponent",
    (spark, sfDir) => {
      val xCase = "CASE " + hurstXu.map { case (m, xu) =>
        s"WHEN m = $m THEN ${xu}L"
      }.mkString(" ") + " END"
      val daily = Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(Ql.r(col("value") * 100, 0).cast("long")).as("c"))
      val indexed = daily
        .withColumn("rn",
          row_number().over(Window.orderBy("day")).cast("long"))
        .checkpointed // calendar-bounded day table
      val grid = indexed
        .select(col("rn"), col("c"),
          explode(expr("array(4L, 8L, 16L, 32L)")).as("m"))
        .withColumn("blk", expr("(rn - 1) div m"))
      val withK = grid
        .withColumn("k",
          row_number().over(Window.partitionBy("m", "blk").orderBy("rn"))
            .cast("long"))
        .withColumn("p", sum("c").over(Window.partitionBy("m", "blk")
          .orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)))
      val btot = grid.groupBy("m", "blk")
        .agg(count(lit(1)).as("n"), sum("c").as("sx"),
          sum(expr("c * c")).as("sxx"))
        .filter(col("n") === col("m")) // complete blocks only
      val rs = withK.join(btot, Seq("m", "blk"))
        .withColumn("num", col("m") * col("p") - col("k") * col("sx"))
        .groupBy("m", "blk", "sx", "sxx")
        .agg(max("num").as("mx"), min("num").as("mn"))
        .withColumn("varn", expr("m * sxx - sx * sx"))
        .filter(col("varn") > 0)
        .selectExpr("m",
          s"CAST(${Ql.R("(mx - mn) / sqrt(varn) * 1000000", 0)} AS BIGINT) AS rs_u")
      val perM = rs.groupBy("m")
        .agg(count(lit(1)).as("n_blocks"), sum("rs_u").as("srs"))
        .selectExpr("m", "n_blocks",
          s"${Ql.R("srs / 1e6 / n_blocks", 6)} AS mean_rs")
        .checkpointed // ≤4 rows; feeds the regression twice
      val reg = perM.selectExpr("m", "n_blocks", "mean_rs",
        s"$xCase AS xu",
        s"CAST(${Ql.R("ln(mean_rs) * 1000000", 0)} AS BIGINT) AS yu")
      val slope = reg.agg(count(lit(1)).as("np"), sum("xu").as("sxu"),
          sum("yu").as("syu"), sum(expr("xu * yu")).as("sxy"),
          sum(expr("xu * xu")).as("sxx2"))
        .selectExpr(s"""${Ql.R(
          """(CAST(np AS DOUBLE) * sxy - CAST(sxu AS DOUBLE) * syu)
             / (CAST(np AS DOUBLE) * sxx2 - CAST(sxu AS DOUBLE) * sxu)""", 4)}
          AS hurst""")
      reg.crossJoin(broadcast(slope))
        .select(col("m"), col("n_blocks"), col("mean_rs"), col("hurst"))
        .orderBy("m")
    },
    Some {
      val xCase = "CASE " + hurstXu.map { case (m, xu) =>
        s"WHEN m = $m THEN CAST($xu AS BIGINT)"
      }.mkString(" ") + " END"
      s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(${Ql.R("value * 100", 0)} AS BIGINT)) AS BIGINT) AS c
        FROM events GROUP BY 1),
      indexed AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn, c
        FROM daily),
      grid AS MATERIALIZED (
        SELECT rn, c, CAST(m AS BIGINT) AS m, (rn - 1) // m AS blk
        FROM indexed, (SELECT unnest([4, 8, 16, 32]) AS m)),
      withk AS (
        SELECT m, blk,
               CAST(row_number() OVER w AS BIGINT) AS k,
               CAST(sum(c) OVER (PARTITION BY m, blk ORDER BY rn
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        FROM grid
        WINDOW w AS (PARTITION BY m, blk ORDER BY rn)),
      btot AS (
        SELECT m, blk, count(*) AS n,
               CAST(sum(c) AS BIGINT) AS sx,
               CAST(sum(c * c) AS BIGINT) AS sxx
        FROM grid GROUP BY 1, 2
        HAVING count(*) = m),
      rs AS (
        SELECT w.m,
               CAST(${Ql.R("(max(w.m * w.p - w.k * b.sx) - min(w.m * w.p - w.k * b.sx)) / sqrt(w.m * b.sxx - b.sx * b.sx) * 1000000", 0)} AS BIGINT)
                 AS rs_u
        FROM withk w JOIN btot b ON w.m = b.m AND w.blk = b.blk
        WHERE w.m * b.sxx - b.sx * b.sx > 0
        GROUP BY w.m, w.blk, b.sx, b.sxx),
      perm AS MATERIALIZED (
        SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
               ${Ql.R("CAST(sum(rs_u) AS DOUBLE) / 1e6 / count(*)", 6)} AS mean_rs
        FROM rs GROUP BY 1),
      reg AS MATERIALIZED (
        SELECT m, n_blocks, mean_rs,
               $xCase AS xu,
               CAST(${Ql.R("ln(mean_rs) * 1000000", 0)} AS BIGINT) AS yu
        FROM perm),
      slope AS (
        SELECT ${Ql.R(
          """(CAST(count(*) AS DOUBLE) * sum(xu * yu) - CAST(sum(xu) AS DOUBLE) * sum(yu))
             / (CAST(count(*) AS DOUBLE) * sum(xu * xu) - CAST(sum(xu) AS DOUBLE) * sum(xu))""", 4)}
          AS hurst
        FROM reg)
      SELECT m, n_blocks, mean_rs, hurst
      FROM reg CROSS JOIN slope
      ORDER BY m
    """
    })

  /** Kruskal–Wallis k-sample rank test (Kruskal & Wallis 1952, public)
    * across ALL event types — the omnibus nonparametric sibling of
    * q_anova (which assumes normal errors) and the k-group extension of
    * q_mann_whitney, sharing its exact-integer discipline: doubled
    * mid-ranks over the bounded cent grid keep every rank an integer,
    * per-group rank sums are exact BIGINTs, and the tie-correction term
    * Σ(t³−t) is integer too. The global rank sweep uses the two-level
    * bucket-offset pattern (≤50-row c div 1000 histogram — never a
    * single-partition window over the grid). H and the tie-corrected H′
    * are the only doubles; the 5%-level flag compares the ROUNDED H′ to
    * the χ²(k−1) critical ladder (df ≤ 6 tabulated, the observed group
    * count decides — the q_pairwise_means ladder discipline).
    */
  /** χ²(df) 5% critical ladder for df ≤ 6 as ONE shared text (review
    * finding: the literal was copy-pasted nine times across the three
    * rank tests) — `df` is a column the caller's frame must carry.
    */
  private val chi2Crit05 =
    """CASE df WHEN 1 THEN 384e-2 WHEN 2 THEN 599e-2 WHEN 3 THEN 781e-2
       WHEN 4 THEN 949e-2 WHEN 5 THEN 1107e-2 ELSE 1259e-2 END"""

  private val kruskalWallis = QueryDef(
    "q_kruskal_wallis",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(Ql.r(col("value") * 100, 0).cast("long").as("c"),
          col("event_type"))
      val cells = e.groupBy("c", "event_type").agg(count(lit(1)).as("nct"))
        .checkpointed // type×cent grid: feeds ranks, groups, ties
      val totC = cells.groupBy("c").agg(sum("nct").as("cnt"))
        .withColumn("bkt", expr("c div 1000"))
      val offsets = totC.groupBy("bkt").agg(sum("cnt").as("bn"))
        .withColumn("off",
          coalesce(sum(col("bn")).over(Window.orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      val ranked = totC.join(broadcast(offsets), "bkt")
        .withColumn("cum", col("off") + coalesce(
          sum(col("cnt")).over(Window.partitionBy("bkt").orderBy("c")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("c"), col("cnt"),
          (lit(2L) * col("cum") + col("cnt") + 1L).as("m2"))
        .checkpointed // cent grid: feeds the group sums and the ties
      val grp = cells.join(ranked, "c")
        .groupBy("event_type")
        .agg(sum("nct").as("ng"), sum(expr("nct * m2")).as("r2"))
        .checkpointed // |types| rows
      val ties = ranked.agg(sum("cnt").as("n"),
        sum(expr("cnt * cnt * cnt - cnt")).as("tt"))
      grp.agg(count(lit(1)).as("k"),
          // (R2_g/2)²/n_g in DOUBLE: R2² exceeds BIGINT past ~3e9 doubled
          // rank mass, and IEEE ops on identical exact integers are
          // bit-deterministic across engines
          sum(expr(
            "CAST(r2 AS DOUBLE) * r2 / 4.0 / ng")).as("sr"))
        .crossJoin(broadcast(ties))
        .selectExpr("n", "k", "k - 1 AS df",
          s"${Ql.R("12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr - 3.0 * (n + 1)", 4)} AS h",
          s"""${Ql.R(
            """(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr - 3.0 * (n + 1))
               / (1.0 - CAST(tt AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n))""", 4)}
            AS h_corrected""")
        .withColumn("crit_05", expr(chi2Crit05))
        .withColumn("significant", (col("h_corrected") > col("crit_05")).cast("int"))
    },
    Some(s"""
      WITH e AS (
        SELECT CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c, event_type
        FROM events),
      cells AS MATERIALIZED (
        SELECT c, event_type, CAST(count(*) AS BIGINT) AS nct
        FROM e GROUP BY 1, 2),
      totc AS (SELECT c, CAST(sum(nct) AS BIGINT) AS cnt FROM cells GROUP BY 1),
      ranked AS MATERIALIZED (
        SELECT c, cnt,
               2 * COALESCE(sum(cnt) OVER (ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + cnt + 1 AS m2
        FROM totc),
      grp AS (
        SELECT event_type, CAST(sum(nct) AS BIGINT) AS ng,
               CAST(sum(nct * m2) AS BIGINT) AS r2
        FROM cells JOIN ranked USING (c)
        GROUP BY 1),
      ties AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tt
        FROM ranked),
      agg AS (
        SELECT count(*) AS k,
               sum(CAST(r2 AS DOUBLE) * r2 / 4.0 / ng) AS sr
        FROM grp),
      stat AS (
        SELECT n, k, k - 1 AS df,
               ${Ql.R("12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr - 3.0 * (n + 1)", 4)} AS h,
               ${Ql.R(
            """(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr - 3.0 * (n + 1))
               / (1.0 - CAST(tt AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n))""", 4)}
                 AS h_corrected
        FROM agg CROSS JOIN ties)
      SELECT n, k, df, h, h_corrected,
             ($chi2Crit05) AS crit_05,
             CAST(h_corrected > ($chi2Crit05) AS INT) AS significant
      FROM stat
    """))

  /** Brown–Forsythe robust variance-homogeneity test (Brown & Forsythe
    * 1974 — Levene's test with MEDIAN centers, public): the
    * equal-variances prerequisite q_anova/q_pairwise_means silently
    * assume, checked without normality assumptions. Per type: the exact
    * lower-median order statistic from the type-partitioned cent grid
    * (⌈n/2⌉-th value, no interpolation to diverge engines), absolute
    * deviations z = |c − med| as exact integers, then the one-way F on z
    * from integer moments (Σz, Σz², n per group). The 5% flag compares
    * the ROUNDED F to the df₂→∞ critical ladder for df₁ ≤ 6 (N ≫ k here
    * by five orders; documented approximation). Output: one row per
    * type (median, mean |dev|) carrying the shared F/flag columns.
    */
  private val brownForsythe = QueryDef(
    "q_brown_forsythe",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(Ql.r(col("value") * 100, 0).cast("long").as("c"),
          col("event_type"))
      val grid = e.groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
        .checkpointed // type×cent grid; feeds the median and the moments
      val ng = grid.groupBy("event_type").agg(sum("cnt").as("n_g"))
      val med = grid
        .withColumn("cum", sum("cnt").over(
          Window.partitionBy("event_type").orderBy("c")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .join(broadcast(ng), "event_type")
        .filter(col("cum") >= expr("(n_g + 1) div 2"))
        .groupBy("event_type").agg(min("c").as("med"))
      val mom = grid.join(broadcast(med), "event_type")
        .select(col("event_type"), col("cnt"),
          abs(col("c") - col("med")).as("z"), col("med"))
        .groupBy("event_type", "med")
        .agg(sum("cnt").as("n_g"), sum(expr("cnt * z")).as("sz"),
          sum(expr("cnt * z * z")).as("szz"))
        .checkpointed // |types| rows
      // per-group SS terms quantize to 4 dp integer units BEFORE the
      // k-row sum (the q_kneser_ney discipline): each group's sz²/n_g
      // correction is one identical double op chain in both engines,
      // rounded to an exact integer, so the cross-group fold is
      // order-independent. The PER-TERM cast is to BIGINT in both
      // dialects — above 2⁵³ a double is already integral, so the
      // binary-exact BIGINT cast agrees engine-to-engine at any
      // magnitude < 2⁶³, whereas Spark's double→DECIMAL goes through
      // Double.toString (17 sig digits) and would diverge from
      // DuckDB's exact cast there. Only the ACCUMULATOR is widened
      // (DECIMAL(38,0) / HUGEINT) — szz·1e4 is ~1e18 at bench scale,
      // so k terms overflow a BIGINT sum at ~2× data.
      val pooled = mom.agg(
        sum("n_g").as("n"), count(lit(1)).as("k"),
        sum("sz").as("szt"),
        sum(expr(s"CAST(${Ql.R("10000.0 * (szz - CAST(sz AS DOUBLE) * sz / n_g)", 0)} AS BIGINT)")
          .cast("decimal(38,0)")).as("ssw_u"),
        sum(expr(s"CAST(${Ql.R("10000.0 * (CAST(sz AS DOUBLE) * sz / n_g)", 0)} AS BIGINT)")
          .cast("decimal(38,0)")).as("sb0_u"))
        .selectExpr("n", "k",
          // SSB = Σ sz²/n_g − (Σsz)²/N (exact-integer inputs, IEEE ops)
          "CAST(sb0_u AS DOUBLE) / 1e4 - CAST(szt AS DOUBLE) * szt / n AS ssb",
          "CAST(ssw_u AS DOUBLE) / 1e4 AS ssw")
        .selectExpr("n", "k", "k - 1 AS df1", "n - k AS df2",
          s"${Ql.R("(ssb / (k - 1)) / (ssw / (n - k))", 4)} AS f_bf")
        .withColumn("crit_05", expr(
          "CASE df1 WHEN 1 THEN 384e-2 WHEN 2 THEN 3e0 WHEN 3 THEN 26e-1 WHEN 4 THEN 237e-2 WHEN 5 THEN 221e-2 ELSE 21e-1 END"))
        .withColumn("significant", (col("f_bf") > col("crit_05")).cast("int"))
      mom.crossJoin(broadcast(pooled))
        .selectExpr("event_type", "n_g",
          s"${Ql.R("med / 100.0", 2)} AS median",
          s"${Ql.R("CAST(sz AS DOUBLE) / n_g / 100.0", 4)} AS mean_absdev",
          "df1", "df2", "f_bf", "crit_05", "significant")
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (
        SELECT CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS c, event_type
        FROM events),
      grid AS MATERIALIZED (
        SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
        FROM e GROUP BY 1, 2),
      ngs AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_g
              FROM grid GROUP BY 1),
      med AS MATERIALIZED (
        SELECT g.event_type, CAST(min(c) AS BIGINT) AS med
        FROM (SELECT event_type, c,
                     sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM grid) g
        JOIN ngs ON g.event_type = ngs.event_type
        WHERE g.cum >= (ngs.n_g + 1) // 2
        GROUP BY 1),
      mom AS MATERIALIZED (
        SELECT g.event_type, m.med,
               CAST(sum(cnt) AS BIGINT) AS n_g,
               CAST(sum(cnt * abs(c - med)) AS BIGINT) AS sz,
               CAST(sum(cnt * abs(c - med) * abs(c - med)) AS BIGINT) AS szz
        FROM grid g JOIN med m ON g.event_type = m.event_type
        GROUP BY 1, 2),
      pooled AS MATERIALIZED (
        SELECT n, k, k - 1 AS df1, n - k AS df2,
               ${Ql.R("(ssb / (k - 1)) / (ssw / (n - k))", 4)} AS f_bf
        FROM (
          SELECT n, k,
                 CAST(sb0_u AS DOUBLE) / 1e4
                   - CAST(szt AS DOUBLE) * szt / n AS ssb,
                 CAST(ssw_u AS DOUBLE) / 1e4 AS ssw
          FROM (
            SELECT CAST(sum(n_g) AS BIGINT) AS n, count(*) AS k,
                   CAST(sum(sz) AS BIGINT) AS szt,
                   sum(CAST(${Ql.R("10000.0 * (CAST(sz AS DOUBLE) * sz / n_g)", 0)} AS BIGINT)) AS sb0_u,
                   sum(CAST(${Ql.R("10000.0 * (szz - CAST(sz AS DOUBLE) * sz / n_g)", 0)} AS BIGINT)) AS ssw_u
            FROM mom)))
      SELECT event_type, n_g,
             ${Ql.R("med / 100.0", 2)} AS median,
             ${Ql.R("CAST(sz AS DOUBLE) / n_g / 100.0", 4)} AS mean_absdev,
             df1, df2, f_bf,
             CASE df1 WHEN 1 THEN 384e-2 WHEN 2 THEN 3e0 WHEN 3 THEN 26e-1
                      WHEN 4 THEN 237e-2 WHEN 5 THEN 221e-2 ELSE 21e-1 END
               AS crit_05,
             CAST(f_bf > (CASE df1 WHEN 1 THEN 384e-2 WHEN 2 THEN 3e0
                          WHEN 3 THEN 26e-1 WHEN 4 THEN 237e-2
                          WHEN 5 THEN 221e-2 ELSE 21e-1 END) AS INT) AS significant
      FROM mom CROSS JOIN pooled
      ORDER BY event_type
    """))

  /** Friedman rank test (Friedman 1937, public): do the event types keep
    * the same VALUE ordering day after day? Blocks = calendar days,
    * treatments = event types, observations = the day×type mean value
    * (6 dp, identical both engines); within-day doubled mid-ranks keep
    * every rank an exact integer (the q_mann_whitney discipline applied
    * per block), and χ²_F comes from the per-type doubled-rank sums.
    * The repeated-measures complement of q_kruskal_wallis (which pools
    * all observations and loses the day blocking). All windows run over
    * the calendar-bounded day×type table. Mid-ranks stand in for the
    * no-ties assumption (documented; exact ties on a 6 dp daily mean are
    * measure-zero but handled identically in both engines).
    */
  private val friedmanTest = QueryDef(
    "q_friedman_test",
    (spark, sfDir) => {
      val cell = Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(Ql.r(avg(Ql.r(col("value") * 100, 0).cast("long")), 6).as("m"))
        .checkpointed // day×type table, calendar-bounded
      // complete blocks only: a day missing a type cannot be ranked 1..k
      val k = cell.agg(countDistinct("event_type").as("k"))
      val days = cell.groupBy("day").agg(count(lit(1)).as("nt"))
      val complete = days.join(broadcast(k), col("nt") === col("k"))
        .select("day")
      // rank() = 1 + rows strictly below (peer-order-independent), so the
      // doubled mid-rank is 2·(rank−1) + tie_n + 1 — no ROWS frame whose
      // arbitrary peer order could diverge the engines
      val ranked = cell.join(broadcast(complete), "day")
        .withColumn("tieN", count(lit(1)).over(
          Window.partitionBy("day", "m")))
        .withColumn("rk",
          rank().over(Window.partitionBy("day").orderBy("m")).cast("long"))
        .select(col("day"), col("event_type"),
          (lit(2L) * (col("rk") - 1L) + col("tieN") + 1L).as("m2"))
      val perType = ranked.groupBy("event_type")
        .agg(sum("m2").as("r2"), count(lit(1)).as("n"))
        .checkpointed // |types| rows
      perType.agg(count(lit(1)).as("k"), max("n").as("n"),
          sum(expr("CAST(r2 AS DOUBLE) * r2 / 4.0")).as("sr2"))
        .selectExpr("n", "k", "k - 1 AS df",
          s"""${Ql.R(
            """12.0 / (CAST(n AS DOUBLE) * k * (k + 1)) * sr2
               - 3.0 * n * (k + 1)""", 4)} AS chi2_f""")
        .withColumn("crit_05", expr(chi2Crit05))
        .withColumn("significant", (col("chi2_f") > col("crit_05")).cast("int"))
    },
    Some(s"""
      WITH cell AS MATERIALIZED (
        SELECT CAST(ts AS DATE) AS day, event_type,
               ${Ql.R("avg(CAST(" + Ql.R("value * 100", 0) + " AS BIGINT))", 6)} AS m
        FROM events GROUP BY 1, 2),
      kk AS (SELECT count(DISTINCT event_type) AS k FROM cell),
      complete AS (
        SELECT day FROM cell CROSS JOIN kk
        GROUP BY day, k HAVING count(*) = k),
      ranked AS (
        SELECT day, event_type, 2 * (rk - 1) + tie_n + 1 AS m2
        FROM (
          SELECT day, event_type,
                 count(*) OVER (PARTITION BY day, m) AS tie_n,
                 CAST(rank() OVER (PARTITION BY day ORDER BY m) AS BIGINT) AS rk
          FROM cell JOIN complete USING (day))),
      pertype AS (
        SELECT event_type, CAST(sum(m2) AS BIGINT) AS r2,
               CAST(count(*) AS BIGINT) AS n
        FROM ranked GROUP BY 1),
      agg AS (
        SELECT count(*) AS k, max(n) AS n,
               sum(CAST(r2 AS DOUBLE) * r2 / 4.0) AS sr2
        FROM pertype),
      stat AS (
        SELECT n, k, k - 1 AS df,
               ${Ql.R(
            """12.0 / (CAST(n AS DOUBLE) * k * (k + 1)) * sr2
               - 3.0 * n * (k + 1)""", 4)} AS chi2_f
        FROM agg)
      SELECT n, k, df, chi2_f,
             ($chi2Crit05) AS crit_05,
             CAST(chi2_f > ($chi2Crit05) AS INT) AS significant
      FROM stat
    """))

  /** Cochran's Q (Cochran 1950, public) — the binary Friedman: across
    * the event types as "treatments", does the per-user probability of
    * a HIGH-VALUE day-one... here: of exhibiting each type at
    * high-value (value > 180, the q_sequential_ab conversion bar) differ
    * by type, blocking on users? x_{u,t} = 1 iff user u has a
    * high-value event of type t; Q = k(k−1)·Σ_t(C_t − ΣR/k)² /
    * (k·ΣR_u − ΣR_u²) is EXACT integer arithmetic end to end (column
    * totals, per-user row totals, squared deviations via k-scaled
    * cross-multiplication) until the final division. Rows with R_u = 0
    * or k (all-negative / all-positive users) contribute nothing to
    * either side — kept, as the formula self-cancels them. One per-user
    * aggregation; the test statistic lives on |types|-row and 1-row
    * frames.
    */
  private val cochranQ = QueryDef(
    "q_cochran_q",
    (spark, sfDir) => {
      val x = Tables.events(spark, sfDir)
        .groupBy("user_id", "event_type")
        .agg(max((col("value") > 180).cast("long")).as("x"))
      val colTot = x.groupBy("event_type").agg(sum("x").as("ct"))
        .checkpointed // |types| rows
      // k = the checkpointed column-total row count — recomputing it via
      // countDistinct would rescan events (review finding)
      val k = colTot.agg(count(lit(1)).as("k"))
      val rowTot = x.groupBy("user_id").agg(sum("x").as("r"))
        .agg(count(lit(1)).as("n_users"), sum("r").as("sr"),
          sum(expr("r * r")).as("srr"))
      // Q = k(k-1)·Σ(k·C_t − ΣR)² / (k² ·(k·ΣR − ΣR²)) — the k-scaled
      // form keeps every term BIGINT (no fractional mean C̄ = ΣR/k)
      colTot.crossJoin(broadcast(k)).crossJoin(broadcast(rowTot))
        .agg(max("k").as("k"), max("n_users").as("n_users"),
          max("sr").as("sr"), max("srr").as("srr"),
          sum(expr("(k * ct - sr) * (k * ct - sr)")).as("dev2"))
        .selectExpr("n_users", "k", "k - 1 AS df", "sr AS n_positive",
          s"""CASE WHEN k * sr - srr = 0 THEN 0e0 ELSE ${Ql.R(
            """CAST(k AS DOUBLE) * (k - 1) * dev2
               / (CAST(k AS DOUBLE) * k * (k * sr - srr))""", 4)} END AS q""")
        .withColumn("crit_05", expr(chi2Crit05))
        .withColumn("significant", (col("q") > col("crit_05")).cast("int"))
    },
    Some(s"""
      WITH x AS MATERIALIZED (
        SELECT user_id, event_type,
               max(CASE WHEN value > 180 THEN 1 ELSE 0 END) AS x
        FROM events GROUP BY 1, 2),
      kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM x),
      coltot AS (
        SELECT event_type, CAST(sum(x) AS BIGINT) AS ct FROM x GROUP BY 1),
      rowtot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(r) AS BIGINT) AS sr, CAST(sum(r * r) AS BIGINT) AS srr
        FROM (SELECT user_id, CAST(sum(x) AS BIGINT) AS r FROM x GROUP BY 1)),
      agg AS (
        SELECT max(k) AS k, max(n_users) AS n_users, max(sr) AS sr,
               max(srr) AS srr,
               CAST(sum((k * ct - sr) * (k * ct - sr)) AS BIGINT) AS dev2
        FROM coltot CROSS JOIN kk CROSS JOIN rowtot),
      stat AS (
        SELECT n_users, k, k - 1 AS df, sr AS n_positive,
               CASE WHEN k * sr - srr = 0 THEN 0e0 ELSE ${Ql.R(
            """CAST(k AS DOUBLE) * (k - 1) * dev2
               / (CAST(k AS DOUBLE) * k * (k * sr - srr))""", 4)} END AS q
        FROM agg)
      SELECT n_users, k, df, n_positive, q,
             ($chi2Crit05) AS crit_05,
             CAST(q > ($chi2Crit05) AS INT) AS significant
      FROM stat
    """))

  def defs: Seq[QueryDef] =
    Seq(ridge, linearTrend, bootstrapCi, sampleSystematic, holtForecast,
      decayEngagement, mannWhitney, theilIndex, stratAte, cramersV,
      pcaPower, dpCounts, decisionStump, burstiness, forecastEval,
      quantileNormalize, imputeEval, partialCorr, anova, powerAnalysis,
      cuped, ridgeCv, medianCi, welchTtest, tailIndex, extremeValue,
      mannKendall, spcChart, bloomSizing, rleLayout, quantileRegression,
      priceElasticity, calendarGaps, dupRate, holtWinters, jackknifeSe,
      simpsonParadox, hurstExponent, kruskalWallis, brownForsythe,
      friedmanTest, cochranQ)
}
