package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Stream-shaped queries over the `events` table — the batch twins of the
  * reference's Kinesis→Lambda aggregation patterns (per-time-bucket keyed
  * counters in DynamoDB). Event-time bucketing here is a semantic upgrade
  * over the reference's arrival-time minute keys.
  */
object EventQueries extends QueryModule {

  /** Flagship: hourly event stats — tumbling-window batch twin (SURVEY §2.H1).
    * The Lambda equivalent: per (metric, hour) DynamoDB ADD counters.
    */
  val hourlyEventStats: QueryDef = QueryDef(
    "q_hourly_event_stats",
    (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Ql.r(sum(col("value"))).as("sum_value"),
          Ql.r(avg(col("value"))).as("avg_value"))
        .orderBy("hour", "event_type"),
    Some(s"""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             event_type,
             count(*) AS n_events,
             ${Ql.R("sum(value)")} AS sum_value,
             ${Ql.R("avg(value)")} AS avg_value
      FROM events
      GROUP BY 1, 2
      ORDER BY 1, 2
    """))

  /** Funnel conversion: view → click-after-view → purchase-after-click,
    * per user, each stage anchored at the earliest qualifying event after
    * the previous stage. Three aggregations and two joins, ALL keyed on
    * user_id — one co-partitioned shuffle family, no windows over the
    * full stream, so the plan is three map-side-combined aggs at any
    * scale. (The Lambda-era equivalent: per-user DynamoDB state machine
    * advanced by each record batch.)
    *
    * One definition builds both registered forms: `stepUs = None` is the
    * unconstrained cascade (`q_funnel`), `Some(bound)` requires each
    * stage within `bound` µs of the previous (`q_funnel_windowed`, the
    * product-analytics form; the bound compares integer epoch µs so the
    * boundary tie is exact in both engines). Spark builder and oracle
    * both derive from this, so the cascade semantics (strict `ts >` tie
    * handling, earliest-qualifying anchors) cannot drift.
    */
  private def funnelDef(name: String, stepUs: Option[Long],
      clickCol: String, purchCol: String): QueryDef = QueryDef(
    name,
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("ts"))
      def within(ts: org.apache.spark.sql.Column, anchor: org.apache.spark.sql.Column) =
        stepUs.map(b => ts > anchor && unix_micros(ts) - unix_micros(anchor) <= b)
          .getOrElse(ts > anchor)
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(within(col("ts"), col("t1")))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(within(col("ts"), col("t2")))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      val nv = v.select(countDistinct("user_id").as("n_view"))
      val nc = c.select(countDistinct("user_id").as(clickCol))
      val np = p.select(countDistinct("user_id").as(purchCol))
      nv.crossJoin(nc).crossJoin(np)
        .select(col("n_view"), col(clickCol), col(purchCol),
          Ql.r(col(clickCol) / col("n_view").cast("double"), 4).as("click_rate"),
          Ql.r(col(purchCol) / col(clickCol).cast("double"), 4).as("purchase_rate"))
    },
    Some {
      def within(anchor: String) = stepUs
        .map(b => s"AND epoch_us(e.ts) - epoch_us($anchor) <= $b").getOrElse("")
      s"""
      WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                 WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
              JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1 ${within("v.t1")} GROUP BY 1),
      p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
              JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2 ${within("c.t2")} GROUP BY 1)
      SELECT (SELECT count(*) FROM v) AS n_view,
             (SELECT count(*) FROM c) AS $clickCol,
             (SELECT count(*) FROM p) AS $purchCol,
             ${Ql.R("(SELECT count(*) FROM c) * 1.0 / (SELECT count(*) FROM v)", 4)} AS click_rate,
             ${Ql.R("(SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM c)", 4)} AS purchase_rate
    """
    })

  private val funnel = funnelDef("q_funnel", None, "n_click_after", "n_purchase_after")

  /** Journey-path mining: each user's first three events (event-time
    * order, event_id tiebreak) as a `a>b>c` path, counted across users —
    * the "what do sessions look like" report. The rank filter rides the
    * user_id window (WindowGroupLimit prunes below top-3 per user) and
    * the path assembly is a sort_array over an already-3-element list.
    */
  private val eventPaths = QueryDef(
    "q_event_paths",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          concat_ws(">", expr("transform(sort_array(collect_list(struct(rn, event_type))), s -> s.event_type)")).as("path"))
        .filter(col("n") === 3)
        .groupBy("path")
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    },
    Some("""
      WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
      paths AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
               count(*) AS n
        FROM ranked WHERE rn <= 3 GROUP BY 1)
      SELECT path, count(*) AS n_users
      FROM paths WHERE n = 3
      GROUP BY 1 ORDER BY n_users DESC, path
    """))

  /** Retention cohorts: users grouped by first-seen day, activity counted
    * per week offset — the classic product-analytics matrix. Three
    * aggregations all keyed on user_id (one co-partitioned shuffle
    * family, like q_funnel); the cohort matrix itself is
    * days × weeks — tiny at any corpus size.
    */
  private val retentionCohorts = QueryDef(
    "q_retention_cohorts",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = e.groupBy("user_id").agg(min(col("day")).as("first_day"))
      e.distinct().join(first, "user_id")
        .withColumn("week_offset",
          floor(datediff(col("day"), col("first_day")) / 7).cast("int"))
        .groupBy(date_format(col("first_day"), "yyyy-MM-dd").as("cohort_day"),
          col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_day", "week_offset")
    },
    Some("""
      WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      first AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY 1)
      SELECT strftime(first_day, '%Y-%m-%d') AS cohort_day,
             CAST(floor(date_diff('day', first_day, day) / 7.0) AS INT) AS week_offset,
             count(DISTINCT e.user_id) AS n_active
      FROM e JOIN first ON e.user_id = first.user_id
      GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Time-series gap fill / resample: a dense hour × event_type grid with
    * zero-filled counts — dashboards and downstream window functions need
    * gapless series. The grid is generated from the 1-row bounds
    * aggregate (sequence + explode), so its size tracks the TIME RANGE,
    * not the data volume; the only data-sized work is the hourly
    * pre-aggregation the grid left-joins against.
    */
  private val tsResample = QueryDef(
    "q_ts_resample",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
      val hourly = e
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), Ql.r(sum(col("value"))).as("sum_value"))
      val grid = e
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
      val types = e.select("event_type").distinct()
      grid.crossJoin(types) // time-grid × type-dim: both tiny by construction
        .join(hourly, Seq("h", "event_type"), "left")
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("hour", "event_type")
    },
    Some(s"""
      WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
               ${Ql.R("sum(value)")} AS sum_value
        FROM events GROUP BY 1, 2),
      bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
                        date_trunc('hour', max(ts)) AS hi FROM events),
      grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
      types AS (SELECT DISTINCT event_type FROM events)
      SELECT strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour, t.event_type,
             CAST(coalesce(hh.n, 0) AS BIGINT) AS n,
             coalesce(hh.sum_value, 0.0) AS sum_value
      FROM grid g CROSS JOIN types t
      LEFT JOIN hourly hh ON hh.h = g.h AND hh.event_type = t.event_type
      ORDER BY 1, 2
    """))

  /** Volume-anomaly flags: daily per-type counts more than 2 sample
    * standard deviations from that type's mean. Two aggregations (daily
    * counts, per-type moments) + one small join — nothing data-sized
    * crosses the wire twice. The z-score is computed AND thresholded on
    * the rounded value per the cross-engine rounding contract.
    */
  private val anomalyZscore = QueryDef(
    "q_anomaly_zscore",
    (spark, sfDir) => {
      val daily = Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy("event_type")
        .agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"))
      daily.join(stats, "event_type")
        .filter(col("sd") > 0)
        .withColumn("z", Ql.r((col("n") - col("mu")) / col("sd"), 4))
        .filter(abs(col("z")) >= 2.0)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("z"))
        .orderBy("day", "event_type")
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
             FROM daily GROUP BY 1)
      SELECT strftime(day, '%Y-%m-%d') AS day, d.event_type, n,
             ${Ql.R("(n - mu) / sd", 4)} AS z
      FROM daily d JOIN st ON d.event_type = st.event_type
      WHERE sd > 0 AND abs(${Ql.R("(n - mu) / sd", 4)}) >= 2.0
      ORDER BY 1, 2
    """))

  /** Last-touch marketing attribution: each purchase credits the user's
    * most recent click within a 72 h lookback. The carry is ONE per-user
    * window (`last(click_ts) IGNORE NULLS` over rows up to the previous
    * event) — user-partitioned, so it shuffles once on user_id and scans
    * each partition linearly; no per-purchase point lookup, no as-of
    * self-join fanout. The 72 h bound compares integer epoch
    * MICROSECONDS (`unix_micros` / `epoch_us`) — interval arithmetic on
    * the boundary tie is exact in both engines that way.
    */
  private val attribution = QueryDef(
    "q_attribution",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val e = Tables.events(spark, sfDir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      e.withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("attr",
          (col("click_ts").isNotNull &&
            (unix_micros(col("ts")) - unix_micros(col("click_ts")) <= 259200000000L))
            .cast("int"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("attr")).cast("long").as("n_attributed"),
          Ql.r(sum(when(col("attr") === 1, col("value")).otherwise(0.0)), 2)
            .as("attributed_value"))
        .orderBy("day")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, ts, event_id, event_type, value FROM events
        WHERE event_type IN ('click', 'purchase')),
      m AS (
        SELECT *, last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_ts
        FROM e),
      p AS (
        SELECT CAST(ts AS DATE) AS day, value,
               CASE WHEN click_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(click_ts) <= 259200000000
                 THEN 1 ELSE 0 END AS attr
        FROM m WHERE event_type = 'purchase')
      SELECT day, count(*) AS n_purchases,
             CAST(sum(attr) AS BIGINT) AS n_attributed,
             ${Ql.R("sum(CASE WHEN attr = 1 THEN value ELSE 0 END)", 2)} AS attributed_value
      FROM p GROUP BY 1 ORDER BY 1
    """))

  /** First-order Markov transition matrix of the per-user event stream:
    * P(next type | current type) from lag pairs. One user-partitioned
    * window for the lag, one keyed count, and the normalizing total rides
    * a tiny per-from_type window — every step is keyed or
    * 25-rows-small, nothing global. The row-stochastic property
    * (each from_type's probabilities sum to 1) is checked by the oracle
    * hash since both engines derive p from the same integer counts.
    */
  private val markov = QueryDef(
    "q_markov_transitions",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val wt = Window.partitionBy("from_type")
      pairs
        .withColumn("p", Ql.r(col("n") / sum(col("n")).over(wt), 4))
        .orderBy("from_type", "to_type")
    },
    Some(s"""
      WITH pairs AS (
        SELECT from_type, event_type AS to_type, count(*) AS n
        FROM (SELECT event_type,
                     lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS from_type
              FROM events)
        WHERE from_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
             ${Ql.R("n / (sum(n) OVER (PARTITION BY from_type))", 4)} AS p
      FROM pairs ORDER BY 1, 2
    """))

  /** Time-constrained funnel — the standard product-analytics form of
    * q_funnel: each stage must fire within 24 h of the previous one, so
    * a click three weeks after the view no longer converts. Same
    * three-aggregation cascade, all keyed on user_id (one co-partitioned
    * shuffle family, no windows over the full stream); the added step
    * bound compares integer epoch MICROSECONDS so the 24 h boundary tie
    * is exact in both engines.
    */
  private val funnelWindowed =
    funnelDef("q_funnel_windowed", Some(86400000000L), "n_click_24h", "n_purchase_24h")

  /** Exponentially-weighted moving average over the daily value series,
    * per event type — the smoothing primitive behind monitoring
    * dashboards and drift alarms. The recursion s_t = α·x_t + (1-α)·s_{t-1}
    * is CLOSED-FORM as one window sum: s_t = (1-α)^t · Σ_{i≤t} w_i·x_i
    * with w_i = α·(1-α)^{-i} (w_1 drops the α), so the whole series is a
    * single event_type-partitioned window pass — no recursive CTE, no
    * driver loop, and the partition count scales with the type×day grid,
    * not the event volume. Numerically safe because the series is short
    * (30 days ⇒ (1-α)^{-t} ≤ ~4·10⁴); for year-long series you'd chunk
    * the window or carry state (the streaming twin:
    * [[graft.streaming.StreamingJobs]]' EwmaProcessor). Daily means are
    * rounded to 6 dp BEFORE the recursion, which removes the dominant
    * cross-engine difference (daily-mean aggregation order). A residual
    * risk of the accepted round-boundary class remains: the running sum
    * of w_i (terms spanning ~4 orders of magnitude at rn=30) may still
    * associate differently across engines (DuckDB's segment tree vs
    * Spark's sequential frame) before the 4 dp output rounding — the
    * relative difference (~1e-15 of s) scaled by (1-α)^rn sits ~8 orders
    * below the output rounding step, so a flip needs a value within
    * ~1e-12 of a .00005 boundary. The oracle runs the identical closed
    * form.
    */
  private val ewmaDaily = QueryDef(
    "q_ewma_daily",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val alpha = 0.3
      val daily = Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(Ql.r(avg(col("value")), 6).as("x"))
      val wSeq = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("rn", row_number().over(wSeq))
        .withColumn("w",
          col("x") * pow(lit(1 - alpha), -col("rn")) *
            when(col("rn") === 1, lit(1.0)).otherwise(lit(alpha)))
        .withColumn("s", sum(col("w")).over(
          wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("ewma", Ql.r(pow(lit(1 - alpha), col("rn")) * col("s"), 4))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), Ql.r(col("x"), 4).as("daily_avg"), col("ewma"))
        .orderBy("day", "event_type")
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               ${Ql.R("avg(value)", 6)} AS x
        FROM events GROUP BY 1, 2),
      seq AS (
        SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily),
      acc AS (
        SELECT *, sum(x * pow(0.7, -rn) * CASE WHEN rn = 1 THEN 1.0 ELSE 0.3 END)
                 OVER (PARTITION BY event_type ORDER BY rn
                       ROWS UNBOUNDED PRECEDING) AS s
        FROM seq)
      SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
             ${Ql.R("x", 4)} AS daily_avg,
             ${Ql.R("pow(0.7, rn) * s", 4)} AS ewma
      FROM acc ORDER BY 1, 2
    """))

  /** Robust anomaly detection via median absolute deviation — the
    * outlier-resistant twin of q_anomaly_zscore (mean/stddev are
    * themselves dragged by the outliers they're meant to find; the
    * median/MAD pair is not). Two grouped percentile passes (median,
    * then median of |x−med|) produce a groups-sized threshold table,
    * broadcast back for the modified z-score count — same 100 TB shape
    * as the box-plot query: the fact table streams, the thresholds fit
    * in a dashboard. Both medians are rounded to 6 dp before the z
    * arithmetic (cross-engine percentile interpolation differs by ulps),
    * and the MAD>0 guard runs on the already-rounded value in BOTH
    * engines so a degenerate group can't diverge.
    */
  private val madAnomaly = QueryDef(
    "q_anomaly_mad",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
      val med = e.groupBy("event_type")
        .agg(Ql.r(expr("percentile(value, 0.5)"), 6).as("med"))
      val mad = e.join(broadcast(med), "event_type")
        .withColumn("absdev", abs(col("value") - col("med")))
        .groupBy("event_type")
        .agg(Ql.r(expr("percentile(absdev, 0.5)"), 6).as("mad"))
      e.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .filter(col("mad") > 0)
        .withColumn("z", lit(0.6745) * (col("value") - col("med")) / col("mad"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min(col("med")).as("med"), min(col("mad")).as("mad"),
          sum((abs(col("z")) > 3.5).cast("long")).as("n_outliers"),
          Ql.r(max(abs(col("z"))), 4).as("max_abs_z"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH med AS (
        SELECT event_type,
               ${Ql.R("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)", 6)} AS med
        FROM events GROUP BY 1),
      mad AS (
        SELECT e.event_type,
               ${Ql.R("percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(value - med))", 6)} AS mad
        FROM events e JOIN med ON e.event_type = med.event_type
        GROUP BY 1),
      z AS (
        SELECT e.event_type, med, mad,
               0.6745 * (value - med) / mad AS z
        FROM events e
          JOIN med ON e.event_type = med.event_type
          JOIN mad ON e.event_type = mad.event_type
        WHERE mad > 0)
      SELECT event_type, count(*) AS n, min(med) AS med, min(mad) AS mad,
             CAST(sum(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
             ${Ql.R("max(abs(z))", 4)} AS max_abs_z
      FROM z GROUP BY 1 ORDER BY 1
    """))

  /** Population stability index — THE production drift monitor for a
    * feature/score distribution (banking-scorecards folklore,
    * popularized in public ML-monitoring literature): split the stream
    * at the midpoint of its time range, histogram `value` into 10
    * equal-width bins per event type, and report
    * PSI = Σ_bins (p−q)·ln(p/q) between the reference and current
    * halves. Bins are a DENSE generated 0-9 grid (an empty bin still
    * contributes when the half totals differ, so it cannot be dropped),
    * counts are Laplace-smoothed by 0.5, per-bin contributions are
    * rounded at 8 dp before the 10-term sum (summation-order quench,
    * project contract). Scale shape: two keyed aggregations over the
    * stream + a 1-row global-bounds broadcast — the grid is
    * types × 10, a dashboard, never data-sized. PSI > 0.25 is the
    * conventional "investigate" threshold, reported as a flag.
    */
  private val psiDrift = QueryDef(
    "q_psi_drift",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
      val b = e.agg(min(col("us")).as("lo"), max(col("us")).as("hi"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      val binned = e.crossJoin(broadcast(b))
        .withColumn("half",
          when(col("us") < col("lo") + (col("hi") - col("lo")) / lit(2), "ref")
            .otherwise("cur"))
        .withColumn("bin", least(lit(9),
          floor((col("value") - col("vmin")) / ((col("vmax") - col("vmin")) / lit(10.0)))
            .cast("int")))
      val cnt = binned.groupBy("event_type", "bin")
        .agg(sum(when(col("half") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("half") === "cur", 1L).otherwise(0L)).as("n_cur"))
      val tot = cnt.groupBy("event_type")
        .agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
      val dense = cnt.select(col("event_type")).distinct()
        .select(col("event_type"), explode(expr("sequence(0, 9)")).as("bin"))
      dense.join(cnt, Seq("event_type", "bin"), "left")
        .join(tot, "event_type")
        .withColumn("p", (coalesce(col("n_ref"), lit(0L)) + lit(0.5)) / (col("t_ref") + lit(5.0)))
        .withColumn("q", (coalesce(col("n_cur"), lit(0L)) + lit(0.5)) / (col("t_cur") + lit(5.0)))
        .withColumn("c", Ql.r((col("p") - col("q")) * log(col("p") / col("q")), 8))
        .groupBy("event_type")
        .agg(Ql.r(sum(col("c")), 4).as("psi"),
          first(col("t_ref")).as("n_ref_total"), first(col("t_cur")).as("n_cur_total"))
        .withColumn("drift_flag", (col("psi") > 0.25).cast("int"))
        .select(col("event_type"), col("psi"), col("n_ref_total"),
          col("n_cur_total"), col("drift_flag"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
      b AS (SELECT min(us) AS lo, max(us) AS hi,
                   min(value) AS vmin, max(value) AS vmax FROM e),
      binned AS (
        SELECT event_type,
               CASE WHEN us < lo + (hi - lo) / 2 THEN 'ref' ELSE 'cur' END AS half,
               CAST(least(9, floor((value - vmin) / ((vmax - vmin) / 10.0))) AS INT) AS bin
        FROM e, b),
      cnt AS (
        SELECT event_type, bin,
               sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_ref,
               sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_cur
        FROM binned GROUP BY 1, 2),
      tot AS (SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
              FROM cnt GROUP BY 1),
      dense AS (
        SELECT t.event_type, g.bin
        FROM (SELECT DISTINCT event_type FROM cnt) t, generate_series(0, 9) g(bin)),
      contrib AS (
        SELECT d.event_type, t.t_ref, t.t_cur,
               ${Ql.R(
                 """((coalesce(n_ref, 0) + 0.5) / (t_ref + 5.0)
                     - (coalesce(n_cur, 0) + 0.5) / (t_cur + 5.0))
                    * ln(((coalesce(n_ref, 0) + 0.5) / (t_ref + 5.0))
                         / ((coalesce(n_cur, 0) + 0.5) / (t_cur + 5.0)))""", 8)} AS c
        FROM dense d
          LEFT JOIN cnt ON cnt.event_type = d.event_type AND cnt.bin = d.bin
          JOIN tot t ON t.event_type = d.event_type)
      SELECT event_type, ${Ql.R("sum(c)", 4)} AS psi,
             CAST(any_value(t_ref) AS BIGINT) AS n_ref_total,
             CAST(any_value(t_cur) AS BIGINT) AS n_cur_total,
             CAST(${Ql.R("sum(c)", 4)} > 0.25 AS INT) AS drift_flag
      FROM contrib GROUP BY 1 ORDER BY 1
    """))

  /** Lag-k autocorrelation of the daily mean series per event type
    * (k = 1..3) — the seasonality/persistence diagnostic next to the
    * EWMA smoother: a monitoring stack reads both. Daily means are
    * rounded at 6 dp first (shared contract with q_ewma_daily), each lag
    * is one `lag()` window over the (event_type, day) frame, and the
    * Pearson r comes from the built-in `corr` aggregate rounded at 4 dp.
    * Scale shape: the series is the type×day grid, never event-sized;
    * the three lag passes reuse ONE sorted window partitioning.
    */
  private val autocorr = QueryDef(
    "q_autocorr",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(Ql.r(avg(col("value")), 6).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagged = (1 to 3).map { k =>
        daily.withColumn("xl", lag(col("x"), k).over(w))
          .filter(col("xl").isNotNull)
          .groupBy("event_type")
          .agg(Ql.r(corr(col("x"), col("xl")), 4).as("r"),
            count(lit(1)).as("n_pairs"))
          .withColumn("lag", lit(k))
      }
      lagged.reduce(_.unionByName(_))
        .select(col("event_type"), col("lag"), col("r"), col("n_pairs"))
        .orderBy("event_type", "lag")
    },
    Some {
      val one = (k: Int) => s"""
        SELECT event_type, $k AS lag, ${Ql.R("corr(x, xl)", 4)} AS r,
               count(*) AS n_pairs
        FROM (SELECT event_type, x,
                     lag(x, $k) OVER (PARTITION BY event_type ORDER BY day) AS xl
              FROM daily)
        WHERE xl IS NOT NULL GROUP BY 1"""
      s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               ${Ql.R("avg(value)", 6)} AS x
        FROM events GROUP BY 1, 2)
      ${(1 to 3).map(one).mkString(" UNION ALL ")}
      ORDER BY event_type, lag
    """
    })

  /** Benford first-digit anomaly test per event type — the classic
    * fraud/fabrication screen on a value stream. The first significant
    * digit is taken from the DECIMAL STRING of the long cents value
    * (`round(value·100)` cast to BIGINT) — long→string is exact and
    * identical in both engines, where a log10-based digit extraction
    * would hit `log10(1000) = 2.9999…` float traps; scaling by a power
    * of 10 preserves the leading significant digit. Reports per-digit
    * observed vs Benford-expected fractions on a dense generated 1-9
    * grid plus the per-type χ² against the Benford null. Row-local digit
    * map + one keyed count — the zero-shuffle-but-one shape.
    */
  private val benford = QueryDef(
    "q_benford",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val digits = Tables.events(spark, sfDir)
        .select(col("event_type"),
          Ql.r(col("value") * 100, 0).cast("bigint").as("cents"))
        .filter(col("cents") >= 1)
        .withColumn("d", substring(col("cents").cast("string"), 1, 1).cast("int"))
      val cnt = digits.groupBy("event_type", "d").agg(count(lit(1)).as("n"))
      val dense = cnt.select(col("event_type")).distinct()
        .select(col("event_type"), explode(expr("sequence(1, 9)")).as("d"))
      val wT = Window.partitionBy("event_type")
      dense.join(cnt, Seq("event_type", "d"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("tot", sum(col("n")).over(wT))
        .withColumn("e", col("tot") * log(10.0, lit(1.0) + lit(1.0) / col("d")))
        .withColumn("chi2_term", Ql.r(pow(col("n") - col("e"), 2) / col("e"), 8))
        .withColumn("chi2", Ql.r(sum(col("chi2_term")).over(wT), 4))
        .select(col("event_type"), col("d"), col("n"),
          Ql.r(col("n") / col("tot"), 4).as("obs_frac"),
          Ql.r(log(10.0, lit(1.0) + lit(1.0) / col("d")), 4).as("exp_frac"),
          col("chi2"))
        .orderBy("event_type", "d")
    },
    Some(s"""
      WITH digits AS (
        SELECT event_type,
               CAST(substring(CAST(CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
        FROM events
        WHERE CAST(${Ql.R("value * 100", 0)} AS BIGINT) >= 1),
      cnt AS (SELECT event_type, d, count(*) AS n FROM digits GROUP BY 1, 2),
      grid AS (
        SELECT t.event_type, g.d
        FROM (SELECT DISTINCT event_type FROM cnt) t, generate_series(1, 9) g(d)),
      dense AS (
        SELECT grid.event_type, grid.d, coalesce(cnt.n, 0) AS n
        FROM grid LEFT JOIN cnt
          ON cnt.event_type = grid.event_type AND cnt.d = grid.d),
      wide AS (
        SELECT event_type, d, n,
               sum(n) OVER (PARTITION BY event_type) AS tot
        FROM dense),
      terms AS (
        SELECT *, tot * log10(1.0 + 1.0 / d) AS e FROM wide)
      SELECT event_type, CAST(d AS INT) AS d, n,
             ${Ql.R("n * 1.0 / tot", 4)} AS obs_frac,
             ${Ql.R("log10(1.0 + 1.0 / d)", 4)} AS exp_frac,
             ${Ql.R(s"sum(${Ql.R("pow(n - e, 2) / e", 8)}) OVER (PARTITION BY event_type)", 4)} AS chi2
      FROM terms
      ORDER BY event_type, d
    """))

  /** Day-of-week seasonality profile per event type — the calendar
    * decomposition next to the EWMA/autocorrelation monitors: the daily
    * count series collapses to 7 seasonal indices (dow mean ÷ overall
    * daily mean), which is both the dashboard view and the
    * deseasonalization divisor an anomaly detector wants. Day-of-week
    * is pinned to Sunday = 1 in both engines (Spark `dayofweek`;
    * DuckDB `dayofweek + 1`). Two keyed aggregations over the
    * type × day grid, then a keyed join of the 7-row and 1-row-per-type
    * summaries — never event-sized past the first rollup.
    */
  private val dowProfile = QueryDef(
    "q_dow_profile",
    (spark, sfDir) => {
      val daily = Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val byDow = daily
        .withColumn("dow", dayofweek(col("day")))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_days"), avg(col("n")).as("dow_mean"))
      val overall = daily.groupBy("event_type").agg(avg(col("n")).as("all_mean"))
      byDow.join(overall, "event_type")
        .select(col("event_type"), col("dow"), col("n_days"),
          Ql.r(col("dow_mean"), 4).as("dow_mean"),
          Ql.r(col("dow_mean") / col("all_mean"), 4).as("seasonal_index"))
        .orderBy("event_type", "dow")
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      bydow AS (
        SELECT event_type, dayofweek(day) + 1 AS dow,
               count(*) AS n_days, avg(n) AS dow_mean
        FROM daily GROUP BY 1, 2),
      overall AS (SELECT event_type, avg(n) AS all_mean FROM daily GROUP BY 1)
      SELECT b.event_type, CAST(dow AS INT) AS dow, n_days,
             ${Ql.R("dow_mean", 4)} AS dow_mean,
             ${Ql.R("dow_mean / all_mean", 4)} AS seasonal_index
      FROM bydow b JOIN overall o ON b.event_type = o.event_type
      ORDER BY 1, 2
    """))

  /** Two-sample Kolmogorov-Smirnov drift test per event type — the
    * non-parametric sibling of q_psi_drift over the same time-midpoint
    * split: D = max |F_ref − F_cur| over the EXACT empirical CDFs (no
    * binning), so it catches shape changes a fixed grid smears. The
    * CDFs are cumulative INTEGER counts over the per-type distinct-value
    * table (windows ordered by value; integer cumsums are
    * association-exact, the division happens once per row), D is the
    * max of identically-computed doubles, and the α = 0.05 rejection
    * compares the ROUNDED statistic to the ROUNDED critical value
    * 1.358·√((n+m)/(n·m)) so the flag cannot straddle engines. Scale
    * shape: one keyed count to the type × distinct-value grid, one
    * window pass over it, one 1-row bounds broadcast — the raw stream
    * is scanned once.
    */
  private val ksDrift = QueryDef(
    "q_ks_drift",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(spark, sfDir)
        .select(col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
      val b = e.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val cnt = e.crossJoin(broadcast(b))
        .withColumn("half",
          when(col("us") < col("lo") + (col("hi") - col("lo")) / lit(2), "ref")
            .otherwise("cur"))
        .groupBy("event_type", "value")
        .agg(sum(when(col("half") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("half") === "cur", 1L).otherwise(0L)).as("n_cur"))
      val tot = cnt.groupBy("event_type")
        .agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
      val w = Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cnt
        .withColumn("c_ref", sum(col("n_ref")).over(w))
        .withColumn("c_cur", sum(col("n_cur")).over(w))
        .join(tot, "event_type")
        .withColumn("dd", abs(col("c_ref") / col("t_ref") - col("c_cur") / col("t_cur")))
        .groupBy("event_type")
        .agg(Ql.r(max(col("dd")), 4).as("d_stat"),
          first(col("t_ref")).as("n_ref"), first(col("t_cur")).as("n_cur"),
          Ql.r(first(lit(1.358) *
            sqrt((col("t_ref") + col("t_cur")).cast("double") / (col("t_ref") * col("t_cur")))), 4)
            .as("crit_05"))
        .withColumn("reject_05", (col("d_stat") > col("crit_05")).cast("int"))
        .select(col("event_type"), col("d_stat"), col("crit_05"),
          col("reject_05"), col("n_ref"), col("n_cur"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
      b AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
      cnt AS (
        SELECT event_type, value,
               sum(CASE WHEN us < lo + (hi - lo) / 2 THEN 1 ELSE 0 END) AS n_ref,
               sum(CASE WHEN us < lo + (hi - lo) / 2 THEN 0 ELSE 1 END) AS n_cur
        FROM e, b GROUP BY 1, 2),
      tot AS (SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
              FROM cnt GROUP BY 1),
      cum AS (
        SELECT event_type,
               sum(n_ref) OVER w AS c_ref, sum(n_cur) OVER w AS c_cur
        FROM cnt
        WINDOW w AS (PARTITION BY event_type ORDER BY value
                     ROWS UNBOUNDED PRECEDING)),
      dd AS (
        SELECT c.event_type, t.t_ref, t.t_cur,
               abs(c.c_ref * 1.0 / t.t_ref - c.c_cur * 1.0 / t.t_cur) AS dd
        FROM cum c JOIN tot t ON c.event_type = t.event_type)
      SELECT event_type,
             ${Ql.R("max(dd)", 4)} AS d_stat,
             ${Ql.R("any_value(1.358 * sqrt((t_ref + t_cur) * 1.0 / (t_ref * t_cur)))", 4)} AS crit_05,
             CAST(${Ql.R("max(dd)", 4)} > ${Ql.R("any_value(1.358 * sqrt((t_ref + t_cur) * 1.0 / (t_ref * t_cur)))", 4)} AS INT) AS reject_05,
             CAST(any_value(t_ref) AS BIGINT) AS n_ref,
             CAST(any_value(t_cur) AS BIGINT) AS n_cur
      FROM dd GROUP BY 1 ORDER BY 1
    """))

  /** Weekly stickiness (avg-DAU ÷ WAU) — the engagement-intensity ratio
    * next to the retention matrix: 1.0 means every weekly user shows up
    * every day, 1/7 means drive-by traffic. Weeks are Monday-truncated
    * in both engines (`date_trunc('week')`). Two distinct-count
    * aggregations over the user × day grid, joined on the tiny week
    * key — never event-sized past the first distinct.
    */
  private val stickiness = QueryDef(
    "q_stickiness",
    (spark, sfDir) => {
      val ud = Tables.events(spark, sfDir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("week", date_trunc("week", col("day")).cast("date"))
      val dau = ud.groupBy("week", "day")
        .agg(countDistinct(col("user_id")).as("dau"))
        .groupBy("week")
        .agg(Ql.r(avg(col("dau")), 4).as("avg_dau"), count(lit(1)).as("n_days"))
      val wau = ud.groupBy("week")
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "week")
        .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
          col("n_days"), col("avg_dau"), col("wau"),
          Ql.r(col("avg_dau") / col("wau"), 4).as("stickiness"))
        .orderBy("week")
    },
    Some(s"""
      WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      wk AS (SELECT user_id, day, CAST(date_trunc('week', day) AS DATE) AS week FROM ud),
      dau AS (
        SELECT week, ${Ql.R("avg(dau)", 4)} AS avg_dau, count(*) AS n_days
        FROM (SELECT week, day, count(DISTINCT user_id) AS dau
              FROM wk GROUP BY 1, 2)
        GROUP BY 1),
      wau AS (SELECT week, count(DISTINCT user_id) AS wau FROM wk GROUP BY 1)
      SELECT strftime(d.week, '%Y-%m-%d') AS week, n_days, avg_dau, wau,
             ${Ql.R("avg_dau / wau", 4)} AS stickiness
      FROM dau d JOIN wau w ON d.week = w.week
      ORDER BY 1
    """))

  /** Time-to-convert distribution: hours from a user's FIRST view to
    * their first purchase after it — the latency behind the funnel's
    * conversion counts (two funnels with equal rates can hide a 10×
    * latency difference). Anchors reuse q_funnel's semantics (earliest
    * qualifying event, strict `>` tie handling); deltas compare integer
    * epoch micros; the quartiles come from grouped exact percentiles
    * rounded at 4 dp (the box-plot contract). One-row report — the
    * distribution of a user-keyed join, never event-sized output.
    */
  private val timeToConvert = QueryDef(
    "q_time_to_convert",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val p = e.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      v.join(p, "user_id")
        .withColumn("hours",
          (unix_micros(col("t2")) - unix_micros(col("t1"))) / lit(3600000000.0))
        .agg(count(lit(1)).as("n_converted"),
          Ql.r(avg(col("hours")), 4).as("mean_hours"),
          Ql.r(expr("percentile(hours, 0.5)"), 4).as("p50_hours"),
          Ql.r(expr("percentile(hours, 0.9)"), 4).as("p90_hours"))
    },
    Some(s"""
      WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                 WHERE event_type = 'view' GROUP BY 1),
      p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
              JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'purchase' AND e.ts > v.t1 GROUP BY 1),
      d AS (
        SELECT (epoch_us(t2) - epoch_us(t1)) / 3600000000.0 AS hours
        FROM v JOIN p ON v.user_id = p.user_id)
      SELECT count(*) AS n_converted,
             ${Ql.R("avg(hours)", 4)} AS mean_hours,
             ${Ql.R("quantile_cont(hours, 0.5)", 4)} AS p50_hours,
             ${Ql.R("quantile_cont(hours, 0.9)", 4)} AS p90_hours
      FROM d
    """))

  /** CUSUM changepoint detection (Page 1954, public) over the per-type
    * daily mean series: accumulate deviations from the series mean and
    * report where |cusum| peaks — the classic "when did the level shift"
    * diagnostic that complements q_ks_drift's did-it-shift answer with a
    * WHEN. Daily means are rounded to 6 dp before the accumulation (the
    * q_ewma_daily discipline — kills the dominant cross-engine
    * aggregation-order difference), the per-type series mean joins back
    * as a types-sized broadcast, and the running sum is one
    * event_type-partitioned window pass over the type×day grid — the
    * partition count scales with the calendar, not the event volume. The
    * peak row per type is WindowGroupLimit-selected by
    * (|cusum| DESC, day); the same accepted residual window-sum
    * association risk as q_ewma_daily applies before the 4 dp rounding.
    */
  private val cusumChangepoint = QueryDef(
    "q_cusum_changepoint",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(Ql.r(avg(col("value")), 6).as("x"))
      val mu = daily.groupBy("event_type")
        .agg(Ql.r(avg(col("x")), 6).as("mu"), count(lit(1)).as("n_days"))
      val wSeq = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPeak = Window.partitionBy("event_type")
        .orderBy(abs(col("cusum")).desc, col("day"))
      daily.join(broadcast(mu), "event_type")
        .withColumn("cusum", Ql.r(sum(col("x") - col("mu")).over(wSeq), 4))
        .withColumn("pk", row_number().over(wPeak))
        .filter(col("pk") === 1)
        .select(col("event_type"), col("n_days"),
          date_format(col("day"), "yyyy-MM-dd").as("peak_day"),
          col("cusum").as("peak_cusum"),
          when(col("cusum") >= 0, lit("up")).otherwise(lit("down")).as("shift_side"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               ${Ql.R("avg(value)", 6)} AS x
        FROM events GROUP BY 1, 2),
      mu AS (
        SELECT event_type, ${Ql.R("avg(x)", 6)} AS mu,
               count(*) AS n_days
        FROM daily GROUP BY 1),
      acc AS (
        SELECT daily.event_type, day, n_days,
               ${Ql.R("""sum(x - mu) OVER (PARTITION BY daily.event_type
                 ORDER BY day ROWS UNBOUNDED PRECEDING)""", 4)} AS cusum
        FROM daily JOIN mu ON daily.event_type = mu.event_type)
      SELECT event_type, n_days,
             strftime(day, '%Y-%m-%d') AS peak_day,
             cusum AS peak_cusum,
             CASE WHEN cusum >= 0 THEN 'up' ELSE 'down' END AS shift_side
      FROM acc
      QUALIFY row_number() OVER (PARTITION BY event_type
        ORDER BY abs(cusum) DESC, day) = 1
      ORDER BY event_type
    """))

  /** Classical seasonal decomposition (the moving-average method behind
    * STL's ancestor, Macaulay 1931 / the "classical decomposition" of
    * every forecasting text, public): per event type, trend = centered
    * 7-day moving average of the daily means, detrended = x − trend,
    * seasonal index = mean detrended value per day-of-week. Differs from
    * q_dow_profile (ratio-to-overall-mean) by REMOVING the trend first,
    * so a drifting series doesn't smear its slope into the weekday
    * profile. Two window/group passes over the type×day grid; the 7-day
    * frame is rows-bounded so edge days with fewer than 7 neighbors are
    * excluded from the seasonal fit in BOTH engines (frame-size check on
    * the same integers).
    */
  /** The shared decomposition front half: 6-dp daily means → centered
    * 7-day trend → full-frame-only rows tagged with dow (Sunday=1, the
    * q_dow_profile convention). One definition feeding both
    * q_stl_seasonal and q_stl_residual_anomaly, so the trend window and
    * rounding discipline cannot drift between the seasonal report and
    * the detector built on it. Columns: (day, event_type, x, trend, dow).
    */
  private def detrendedDaily(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(Ql.r(avg(col("value")), 6).as("x"))
    val w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    daily
      .withColumn("trend", Ql.r(avg(col("x")).over(w7), 6))
      .withColumn("frame_n", count(lit(1)).over(w7))
      .filter(col("frame_n") === 7) // full centered frame only
      .withColumn("dow", dayofweek(col("day")))
      .drop("frame_n")
  }

  /** Oracle twin of [[detrendedDaily]] — CTE chain ending in
    * `dt(event_type, day, x, trend, dow)`.
    */
  private val detrendedDailySql = s"""daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               ${Ql.R("avg(value)", 6)} AS x
        FROM events GROUP BY 1, 2),
      t AS (
        SELECT event_type, day, x,
               ${Ql.R("""avg(x) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)""", 6)} AS trend,
               count(*) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS frame_n,
               dayofweek(day) + 1 AS dow
        FROM daily),
      dt AS (SELECT event_type, day, x, trend, dow FROM t WHERE frame_n = 7)"""

  private val stlSeasonal = QueryDef(
    "q_stl_seasonal",
    (spark, sfDir) => {
      detrendedDaily(spark, sfDir)
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_days"),
          Ql.r(avg(col("x") - col("trend")), 4).as("seasonal"),
          Ql.r(avg(col("trend")), 4).as("mean_trend"))
        .orderBy("event_type", "dow")
    },
    Some(s"""
      WITH $detrendedDailySql
      SELECT event_type, CAST(dow AS INT) AS dow,
             count(*) AS n_days,
             ${Ql.R("avg(x - trend)", 4)} AS seasonal,
             ${Ql.R("avg(trend)", 4)} AS mean_trend
      FROM dt
      GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Per-user feature-store build — the one-pass-per-shuffle-key shape a
    * training pipeline materializes user features with: activity volume,
    * active-day span, recency vs the corpus horizon (the q_rfm_segments
    * 1-row max-date broadcast), value statistics, and the event-type
    * Shannon entropy (the q_word_entropy one-pass identity
    * H = log2 n − Σc·log2 c / n over the per-(user, type) counts). Both
    * aggregation branches key on user_id — one co-partitioned shuffle
    * family, joined without a second exchange. Output is the top-30
    * users by volume (TakeOrderedAndProject); the full frame is the
    * feature table a downstream trainer would write.
    */
  private val userFeatures = QueryDef(
    "q_user_features",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("value"),
          to_date(col("ts")).as("day"))
      val horizon = e.agg(max(col("day")).as("maxd"))
      val base = e.groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("day")).as("n_active_days"),
          max(col("day")).as("last_day"),
          Ql.r(sum(col("value")), 2).as("value_sum"),
          Ql.r(avg(col("value")), 4).as("value_mean"))
      val ent = e.groupBy("user_id", "event_type")
        .agg(count(lit(1)).cast("double").as("c"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_types"),
          Ql.r(log2(sum(col("c"))) - sum(col("c") * log2(col("c"))) / sum(col("c")), 5)
            .as("type_entropy"))
      base.join(ent, "user_id")
        .crossJoin(broadcast(horizon))
        .withColumn("recency_days", datediff(col("maxd"), col("last_day")).cast("long"))
        .select(col("user_id"), col("n_events"), col("n_active_days"),
          col("recency_days"), col("n_types"), col("type_entropy"),
          col("value_sum"), col("value_mean"))
        .orderBy(col("n_events").desc, col("user_id"))
        .limit(30)
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_type, value, CAST(ts AS DATE) AS day
        FROM events),
      horizon AS (SELECT max(day) AS maxd FROM e),
      base AS (
        SELECT user_id, count(*) AS n_events,
               count(DISTINCT day) AS n_active_days,
               max(day) AS last_day,
               ${Ql.R("sum(value)", 2)} AS value_sum,
               ${Ql.R("avg(value)", 4)} AS value_mean
        FROM e GROUP BY 1),
      tc AS (
        SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
        FROM e GROUP BY 1, 2),
      ent AS (
        SELECT user_id, count(*) AS n_types,
               ${Ql.R("log2(sum(c)) - sum(c * log2(c)) / sum(c)", 5)} AS type_entropy
        FROM tc GROUP BY 1)
      SELECT b.user_id, n_events, n_active_days,
             CAST(datediff('day', last_day, maxd) AS BIGINT) AS recency_days,
             n_types, type_entropy, value_sum, value_mean
      FROM base b JOIN ent USING (user_id), horizon
      ORDER BY n_events DESC, b.user_id LIMIT 30
    """))

  /** Time-weighted average (TWAP) per event type and day — the
    * irregular-sampling mean a plain avg gets wrong: each observation
    * holds until the next one, so its weight is its holding interval
    * Δt = next_ts − ts (exact integer MICROSECONDS from one lead
    * window), and twap = Σ value·Δt / Σ Δt. A day's last observation
    * has no successor inside the partition and drops — per-day TWAP
    * over the observed span, the convention documented here so both
    * engines agree by construction. Windows partition on
    * (event_type, day): state scales with the calendar grid, never the
    * stream. The plain mean rides along so the sampling-bias delta is
    * visible in the output.
    */
  private val twap = QueryDef(
    "q_twap",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(spark, sfDir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          unix_micros(col("ts")).as("us"), col("value"), col("event_id"))
      val w = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
      e.withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dt").isNotNull)
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          Ql.r(sum(col("value") * col("dt")) / sum(col("dt")), 4).as("twap"),
          Ql.r(avg(col("value")), 4).as("plain_mean"))
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("twap"), col("plain_mean"))
        .orderBy("event_type", "day")
    },
    Some(s"""
      WITH e AS (
        SELECT event_type, CAST(ts AS DATE) AS day, epoch_us(ts) AS us,
               value, event_id
        FROM events),
      d AS (
        SELECT event_type, day, value,
               lead(us) OVER (PARTITION BY event_type, day
                 ORDER BY us, event_id) - us AS dt
        FROM e)
      SELECT event_type, strftime(day, '%Y-%m-%d') AS day, count(*) AS n,
             ${Ql.R("sum(value * dt) / sum(dt)", 4)} AS twap,
             ${Ql.R("avg(value)", 4)} AS plain_mean
      FROM d WHERE dt IS NOT NULL
      GROUP BY event_type, day ORDER BY 1, 2
    """))

  /** Residual-based anomaly detection — the monitoring pattern that
    * composes q_stl_seasonal with q_anomaly_mad: remove the centered
    * 7-day trend AND the day-of-week seasonal index first, then score
    * what's left with the outlier-resistant modified z (0.6745·(r−med)/
    * MAD > 3.5). A raw z-score flags every Saturday of a weekly-cycled
    * series; the residual z only flags days that deviate from their OWN
    * weekday's expectation under the current trend — the difference
    * between an alarm feed people mute and one they read. Plan shape:
    * one type×day window pass (trend), a 35-row seasonal broadcast, two
    * grouped percentile passes (types-sized), one broadcast-back —
    * nothing scales with event volume except the first daily rollup.
    * Residuals are rounded 4 dp before the percentile passes; the MAD>0
    * guard runs on the rounded value in both engines.
    */
  private val stlResidualAnomaly = QueryDef(
    "q_stl_residual_anomaly",
    (spark, sfDir) => {
      val detrended = detrendedDaily(spark, sfDir)
        .checkpointed // feeds the seasonal fit and the residual scan
      val seasonal = detrended.groupBy("event_type", "dow")
        .agg(Ql.r(avg(col("x") - col("trend")), 6).as("seasonal"))
      val resid = detrended.join(broadcast(seasonal), Seq("event_type", "dow"))
        .withColumn("r", Ql.r(col("x") - col("trend") - col("seasonal"), 4))
      val med = resid.groupBy("event_type")
        .agg(Ql.r(expr("percentile(r, 0.5)"), 6).as("med"))
      val mad = resid.join(broadcast(med), "event_type")
        .withColumn("absdev", abs(col("r") - col("med")))
        .groupBy("event_type")
        .agg(Ql.r(expr("percentile(absdev, 0.5)"), 6).as("mad"))
      resid.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .filter(col("mad") > 0)
        .withColumn("z", lit(0.6745) * (col("r") - col("med")) / col("mad"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          min(col("med")).as("med"), min(col("mad")).as("mad"),
          sum((abs(col("z")) > 3.5).cast("long")).as("n_anomalies"),
          Ql.r(max(abs(col("z"))), 4).as("max_abs_z"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH $detrendedDailySql,
      seasonal AS (
        SELECT event_type, dow, ${Ql.R("avg(x - trend)", 6)} AS seasonal
        FROM dt GROUP BY 1, 2),
      resid AS (
        SELECT dt.event_type, ${Ql.R("x - trend - seasonal", 4)} AS r
        FROM dt JOIN seasonal ON dt.event_type = seasonal.event_type
          AND dt.dow = seasonal.dow),
      med AS (
        SELECT event_type,
               ${Ql.R("percentile_cont(0.5) WITHIN GROUP (ORDER BY r)", 6)} AS med
        FROM resid GROUP BY 1),
      mad AS (
        SELECT r.event_type,
               ${Ql.R("percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(r - med))", 6)} AS mad
        FROM resid r JOIN med ON r.event_type = med.event_type
        GROUP BY 1)
      SELECT r.event_type, count(*) AS n_days,
             min(med.med) AS med, min(mad.mad) AS mad,
             CAST(sum(CASE WHEN abs(0.6745 * (r.r - med.med) / mad.mad) > 3.5
               THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
             ${Ql.R("max(abs(0.6745 * (r.r - med.med) / mad.mad))", 4)} AS max_abs_z
      FROM resid r
        JOIN med ON r.event_type = med.event_type
        JOIN mad ON r.event_type = mad.event_type
      WHERE mad.mad > 0
      GROUP BY 1 ORDER BY 1
    """))

  /** Seasonal-strength diagnostic over the shared STL decomposition
    * ([[detrendedDaily]]): F = max(0, 1 − Var(residual)/Var(detrended))
    * (Wang–Hyndman–Smith's feature; ≈1 when the day-of-week cycle
    * explains the detrended variance, ≈0 when deseasonalizing buys
    * nothing). Reuses the exact trend/seasonal discipline of
    * q_stl_seasonal / q_stl_residual_anomaly so the strength score can
    * never disagree with the decomposition it summarizes. The state is
    * the calendar grid (days × event types); nothing here grows with the
    * raw stream.
    */
  private val seasonalStrength = QueryDef(
    "q_seasonal_strength",
    (spark, sfDir) => {
      val dt = detrendedDaily(spark, sfDir)
        .checkpointed // feeds the seasonal fit and the variance scan
      val seasonal = dt.groupBy("event_type", "dow")
        .agg(Ql.r(avg(col("x") - col("trend")), 6).as("seasonal"))
      dt.join(seasonal, Seq("event_type", "dow"))
        .withColumn("detr", col("x") - col("trend"))
        .withColumn("resid", col("x") - col("trend") - col("seasonal"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_days"),
          Ql.r(var_samp(col("detr")), 6).as("var_detrended"),
          Ql.r(var_samp(col("resid")), 6).as("var_residual"),
          Ql.r(greatest(lit(0.0),
            lit(1.0) - var_samp(col("resid")) / var_samp(col("detr"))), 4)
            .as("seasonal_strength"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH $detrendedDailySql,
      s AS (
        SELECT event_type, dow, ${Ql.R("avg(x - trend)", 6)} AS seasonal
        FROM dt GROUP BY 1, 2),
      r AS (
        SELECT dt.event_type, dt.x - dt.trend AS detr,
               dt.x - dt.trend - s.seasonal AS resid
        FROM dt JOIN s ON dt.event_type = s.event_type AND dt.dow = s.dow)
      SELECT event_type, count(*) AS n_days,
             ${Ql.R("var_samp(detr)", 6)} AS var_detrended,
             ${Ql.R("var_samp(resid)", 6)} AS var_residual,
             ${Ql.R("greatest(0.0, 1.0 - var_samp(resid) / var_samp(detr))", 4)} AS seasonal_strength
      FROM r GROUP BY 1 ORDER BY 1
    """))

  /** 7-day rolling distinct users per day — the sliding COUNT(DISTINCT)
    * that a range-frame window cannot express (distinct doesn't merge
    * across frames). Shape: dedup to (user, day) once, then EXPLODE each
    * row into the 7 target days it serves and re-aggregate — the
    * classic turn-a-sliding-window-into-an-equi-shuffle trick: all
    * joins/groupings key on (day), partial aggregation runs map-side,
    * and the ×7 fan-out happens AFTER the dedup, so it multiplies the
    * (user, day) table, not the raw stream. Only full windows (day ≥
    * min+6) are reported.
    */
  private val rollingDistinct = QueryDef(
    "q_rolling_distinct",
    (spark, sfDir) => {
      val ud = Tables.events(spark, sfDir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .distinct()
        .checkpointed // feeds the fan-out, the 1-day counts, and the bounds
      val bounds = ud.agg(min("day").as("mind"), max("day").as("maxd"))
      val d7 = ud
        .select(col("user_id"), explode(expr("sequence(0, 6)")).as("i"), col("day"))
        .select(col("user_id"), date_add(col("day"), col("i")).as("tday"))
        .groupBy("tday")
        .agg(countDistinct(col("user_id")).as("n_users_7d"))
      val d1 = ud.groupBy("day").agg(countDistinct(col("user_id")).as("n_users_1d"))
      // LEFT join: a day with zero events of its own but activity in its
      // trailing window must still report (day, 0, n_7d), not vanish
      d7.join(d1, d7("tday") === d1("day"), "left")
        .crossJoin(broadcast(bounds))
        .filter(col("tday") >= date_add(col("mind"), 6) && col("tday") <= col("maxd"))
        .select(date_format(col("tday"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_users_1d"), lit(0L)).as("n_users_1d"), col("n_users_7d"))
        .orderBy("day")
    },
    Some("""
      WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      b AS (SELECT min(day) AS mind, max(day) AS maxd FROM ud),
      t AS (SELECT day + CAST(i AS INT) AS tday, user_id
            FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i)),
      d7 AS (SELECT tday, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
             FROM t GROUP BY 1),
      d1 AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_1d
             FROM ud GROUP BY 1)
      SELECT strftime(d7.tday, '%Y-%m-%d') AS day,
             CAST(coalesce(n_users_1d, 0) AS BIGINT) AS n_users_1d,
             n_users_7d
      FROM d7 LEFT JOIN d1 ON d7.tday = d1.day CROSS JOIN b
      WHERE d7.tday >= b.mind + 6 AND d7.tday <= b.maxd
      ORDER BY 1
    """))

  /** Kaplan–Meier survival of "time from first activity to first
    * purchase" with right-censoring at the corpus horizon — the
    * time-to-event estimate q_time_to_convert's plain averages get wrong
    * for never-converting users. Per user: observation time t (days to
    * first purchase, else days to the horizon) and an event flag. The
    * KM table lives on distinct event DAYS — calendar-bounded, so the
    * at-risk counts come from a broadcast theta-join of that tiny table
    * against the per-user frame (a counting pass, no single-partition
    * window), and S(h) = Π_{t≤h}(nₜ−dₜ)/nₜ is an exp-of-sum-of-logs over
    * ≤31 exact integer ratios, reported at fixed horizons. The
    * greatest(f, 1e-300) floor keeps a fully-dying last stratum finite
    * in both engines.
    */
  /** Shared survival scaffolding for q_kaplan_meier / q_nelson_aalen:
    * per-user time-to-first-purchase observations (t, ev), right-censored
    * at the corpus horizon — ONE definition so the two estimators cannot
    * drift. localCheckpointed: feeds deaths, at-risk counts, and horizon
    * counts in both queries.
    */
  private def survivalObs(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
    val horizon = e.agg(max("day").as("maxd"))
    e.groupBy("user_id")
      .agg(min("day").as("d0"),
        min(when(col("event_type") === "purchase", col("day"))).as("dp"))
      .crossJoin(broadcast(horizon))
      .select(
        when(col("dp").isNotNull, datediff(col("dp"), col("d0")))
          .otherwise(datediff(col("maxd"), col("d0"))).cast("long").as("t"),
        col("dp").isNotNull.cast("long").as("ev"))
      .checkpointed
  }

  /** Per-event-day risk table (t, d, n, f): deaths d, at-risk n, and the
    * KM factor f = (n−d)/n on distinct event DAYS — calendar-bounded, so
    * the at-risk counts come from a broadcast theta-join of that tiny
    * table against the per-user frame (a counting pass, no
    * single-partition window).
    */
  private def survivalFactors(
      obs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val deaths = obs.filter(col("ev") === 1)
      .groupBy("t").agg(count(lit(1)).as("d"))
    obs.select(col("t").as("ot"))
      .join(broadcast(deaths), col("ot") >= col("t"))
      .groupBy("t", "d").agg(count(lit(1)).as("n"))
      .select(col("t"), col("d"), col("n"),
        ((col("n") - col("d")) / col("n").cast("double")).as("f"))
  }

  /** Oracle-side twin of [[survivalObs]]/[[survivalFactors]] — the CTE
    * block both survival oracles splice in.
    */
  private val survivalOracleCtes = s"""
      e AS (
        SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
      horizon AS (SELECT max(day) AS maxd FROM e),
      obs AS (
        SELECT CAST(CASE WHEN dp IS NOT NULL THEN datediff('day', d0, dp)
                         ELSE datediff('day', d0, maxd) END AS BIGINT) AS t,
               CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM (SELECT user_id, min(day) AS d0,
                     min(CASE WHEN event_type = 'purchase' THEN day END) AS dp
              FROM e GROUP BY 1) CROSS JOIN horizon),
      deaths AS (SELECT t, CAST(count(*) AS BIGINT) AS d
                 FROM obs WHERE ev = 1 GROUP BY 1),
      factors AS (
        SELECT d.t, d.d, CAST(count(*) AS BIGINT) AS n,
               (CAST(count(*) AS BIGINT) - d.d) / CAST(count(*) AS DOUBLE) AS f
        FROM obs o JOIN deaths d ON o.t >= d.t
        GROUP BY d.t, d.d),
      hz AS (SELECT CAST(unnest([1, 3, 7, 14, 30]) AS BIGINT) AS h)"""

  private val kaplanMeier = QueryDef(
    "q_kaplan_meier",
    (spark, sfDir) => {
      val obs = survivalObs(spark, sfDir)
      val factors = survivalFactors(obs)
      val hz = obs.sparkSession.range(1)
        .select(explode(expr("array(1L, 3L, 7L, 14L, 30L)")).as("h"))
      // coalesce BEFORE greatest: both engines' greatest() skips NULLs, so
      // greatest(NULL, 1e-300) = 1e-300 would turn a no-events-yet horizon
      // (unmatched left join ⇒ f NULL) into ln(1e-300) ⇒ survival 0.0;
      // ln(coalesce(f, 1.0)) = 0 contributes nothing and S(h) stays 1.0
      val surv = hz.join(broadcast(factors), col("t") <= col("h"), "left")
        .groupBy("h")
        .agg(
          Ql.r(exp(sum(log(greatest(coalesce(col("f"), lit(1.0)), lit(1e-300))))), 6)
            .as("survival"),
          coalesce(sum("d"), lit(0L)).as("n_conv_by_h"))
      val atRisk = obs.select(col("t").as("ot"))
        .join(broadcast(hz), col("ot") >= col("h"))
        .groupBy("h").agg(count(lit(1)).as("n_risk"))
      surv.join(atRisk, Seq("h"), "left")
        .select(col("h"), coalesce(col("n_risk"), lit(0L)).as("n_risk"),
          col("n_conv_by_h"), col("survival"))
        .orderBy("h")
    },
    Some(s"""
      WITH $survivalOracleCtes,
      surv AS (
        SELECT h,
               ${Ql.R("exp(sum(ln(greatest(coalesce(f, 1.0), 1e-300))))", 6)} AS survival,
               CAST(coalesce(sum(d), 0) AS BIGINT) AS n_conv_by_h
        FROM hz LEFT JOIN factors ON factors.t <= hz.h
        GROUP BY h),
      ar AS (
        SELECT h, CAST(count(*) AS BIGINT) AS n_risk
        FROM obs JOIN hz ON obs.t >= hz.h GROUP BY 1)
      SELECT s.h, CAST(coalesce(ar.n_risk, 0) AS BIGINT) AS n_risk,
             n_conv_by_h, survival
      FROM surv s LEFT JOIN ar ON s.h = ar.h
      ORDER BY s.h
    """))

  /** Nelson–Aalen cumulative hazard of the same time-to-first-purchase
    * process (Nelson 1972 / Aalen 1978, public): H(h) = Σ_{t≤h} dₜ/nₜ
    * over the shared [[survivalFactors]] risk table, with the
    * Fleming–Harrington survival exp(−H) laid next to it — the
    * lower-variance small-risk-set alternative to q_kaplan_meier's
    * product-limit estimate (the two agree as d/n → 0, and their gap is
    * itself a risk-set-size diagnostic). The hazard sum runs over ≤31
    * per-day ratios of exact integers; it is rounded at 6 dp BEFORE the
    * exp (the q_lm_perplexity discipline: both engines exponentiate the
    * same double, so libm-vs-JVM exp ulps cannot compound). Scale shape
    * is q_kaplan_meier's: one keyed per-user aggregation, a broadcast
    * theta-join against the calendar-bounded day table, report-sized
    * output.
    */
  private val nelsonAalen = QueryDef(
    "q_nelson_aalen",
    (spark, sfDir) => {
      val obs = survivalObs(spark, sfDir)
      val factors = survivalFactors(obs)
      val hz = obs.sparkSession.range(1)
        .select(explode(expr("array(1L, 3L, 7L, 14L, 30L)")).as("h"))
      // per-day hazard terms quantize to micro-unit BIGINTs BEFORE the
      // sum (the q_kneser_ney discipline): each d/n ratio is one double
      // division → one half-up round → an exact integer, so the
      // cumulative sum is order-independent and cannot split engines by
      // an ulp at the 6 dp display boundary
      hz.join(broadcast(factors), col("t") <= col("h"), "left")
        .groupBy("h")
        .agg(
          coalesce(count(col("t")), lit(0L)).as("n_event_days"),
          (coalesce(
            sum(expr(s"CAST(${Ql.R("1000000.0 * d / n", 0)} AS BIGINT)")),
            lit(0L)).cast("double") / lit(1e6)).as("cum_hazard"))
        .withColumn("cum_hazard", Ql.r(col("cum_hazard"), 6))
        .withColumn("fh_survival", Ql.r(exp(-col("cum_hazard")), 6))
        .orderBy("h")
    },
    Some(s"""
      WITH $survivalOracleCtes,
      na AS (
        SELECT h,
               CAST(count(factors.t) AS BIGINT) AS n_event_days,
               ${Ql.R(s"CAST(coalesce(sum(CAST(${Ql.R("1000000.0 * d / n", 0)} AS BIGINT)), 0) AS DOUBLE) / 1e6", 6)} AS cum_hazard
        FROM hz LEFT JOIN factors ON factors.t <= hz.h
        GROUP BY h)
      SELECT h, n_event_days, cum_hazard,
             ${Ql.R("exp(-cum_hazard)", 6)} AS fh_survival
      FROM na ORDER BY h
    """))

  /** Shapley-value channel attribution (Shapley 1953; the
    * coalition-game attribution of Zhao et al. 2018, public): each
    * marketing channel's credit for conversions is its average marginal
    * contribution across ALL channel coalitions — the game-theoretic
    * answer to the question q_attribution (last-touch) and
    * q_attribution_position (U-shaped) answer with heuristics. Channels
    * are the pre-first-purchase touch types {click, view, signup}
    * (error is non-marketing noise, purchase is the conversion itself);
    * a user's coalition is the exact SET of channels touched before
    * their first purchase, v(S) counts conversions whose coalition ⊆ S.
    * Everything after one per-user aggregation runs on the 8-row
    * coalition lattice with exact integer arithmetic: masks via
    * sum(DISTINCT bit), subset sums via bitwise AND, and the n=3
    * factorial weights as the integer ladder 6·w ∈ {2,1,2} so
    * φ·6 stays a BIGINT until the final display divide. Efficiency law
    * (Σφ = v(grand) − v(∅)) is pinned in PropertySpec.
    */
  private val shapleyAttribution = QueryDef(
    "q_shapley_attribution",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val firstP = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("us").as("pus"))
      val masks = e.join(firstP, "user_id")
        .filter(col("us") < col("pus"))
        .select(col("user_id"),
          when(col("event_type") === "click", 1L)
            .when(col("event_type") === "view", 2L)
            .when(col("event_type") === "signup", 4L).as("b"))
        .filter(col("b").isNotNull)
        .groupBy("user_id").agg(sum_distinct(col("b")).as("mask"))
      val nT = firstP.join(masks, Seq("user_id"), "left")
        .select(coalesce(col("mask"), lit(0L)).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n"))
        .checkpointed // ≤8 coalition rows
      val vS = spark.range(8).select(col("id").as("s"))
        .join(broadcast(nT), expr("(mask & s) = mask"), "left")
        .groupBy("s").agg(coalesce(sum("n"), lit(0L)).as("v"))
        .checkpointed // 8 rows
      val channels = spark.range(1)
        .select(explode(expr(
          "array(struct(1L AS bit, 'click' AS channel), " +
            "struct(2L AS bit, 'view' AS channel), " +
            "struct(4L AS bit, 'signup' AS channel))")).as("c"))
        .select(col("c.bit"), col("c.channel"))
      val grand = vS.filter(col("s") === 7).select(col("v").as("v_grand"))
      channels
        .join(broadcast(vS.select(col("s"), col("v"))), expr("(s & bit) = 0"))
        .join(broadcast(vS.select(col("s").as("si"), col("v").as("vi"))),
          expr("si = (s | bit)"))
        .groupBy("bit", "channel")
        .agg(sum(expr(
          "(CASE bit_count(s) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END) * (vi - v)"))
          .as("phi6"))
        .crossJoin(broadcast(grand))
        .selectExpr("channel", "v_grand AS conversions",
          s"${Ql.R("phi6 / 6.0", 4)} AS shapley",
          s"""CASE WHEN v_grand = 0 THEN 0e0
            ELSE ${Ql.R("phi6 / 6.0 / v_grand", 4)} END AS share""")
        .orderBy("channel")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      firstp AS (
        SELECT user_id, min(us) AS pus FROM e
        WHERE event_type = 'purchase' GROUP BY 1),
      masks AS (
        SELECT e.user_id, CAST(sum(DISTINCT
                 CASE e.event_type WHEN 'click' THEN 1
                                   WHEN 'view' THEN 2
                                   WHEN 'signup' THEN 4 END) AS BIGINT) AS mask
        FROM e JOIN firstp f ON e.user_id = f.user_id AND e.us < f.pus
        WHERE e.event_type IN ('click', 'view', 'signup')
        GROUP BY 1),
      nt AS MATERIALIZED (
        SELECT coalesce(m.mask, 0) AS mask, CAST(count(*) AS BIGINT) AS n
        FROM firstp f LEFT JOIN masks m ON f.user_id = m.user_id
        GROUP BY 1),
      vs AS MATERIALIZED (
        SELECT s, CAST(coalesce(sum(n), 0) AS BIGINT) AS v
        FROM (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT) AS s)
        LEFT JOIN nt ON (nt.mask & s) = nt.mask
        GROUP BY 1),
      channels AS (
        SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'click'),
                              (CAST(2 AS BIGINT), 'view'),
                              (CAST(4 AS BIGINT), 'signup')) t(bit, channel)),
      grand AS (SELECT v AS v_grand FROM vs WHERE s = 7),
      phi AS (
        SELECT c.bit, c.channel,
               CAST(sum((CASE bit_count(a.s) WHEN 0 THEN 2 WHEN 1 THEN 1
                         ELSE 2 END) * (b.v - a.v)) AS BIGINT) AS phi6
        FROM channels c
        JOIN vs a ON (a.s & c.bit) = 0
        JOIN vs b ON b.s = (a.s | c.bit)
        GROUP BY 1, 2)
      SELECT channel, v_grand AS conversions,
             ${Ql.R("phi6 / 6.0", 4)} AS shapley,
             CASE WHEN v_grand = 0 THEN 0e0
                  ELSE ${Ql.R("phi6 / 6.0 / v_grand", 4)} END AS share
      FROM phi CROSS JOIN grand
      ORDER BY channel
    """))

  /** Level-2 sequential pattern support (the PrefixSpan/GSP first rung,
    * Pei et al. 2001): for every ordered event-type pair (a → b), how
    * many users exhibit SOME a-event strictly before SOME b-event —
    * subsequence containment, not adjacency (q_markov_transitions
    * counts adjacent steps; this counts "ever followed, at any gap").
    * The containment test needs only each user's FIRST a and LAST b:
    * min/max event micros per (user, type) — one keyed aggregation —
    * then a per-user 5×5 type pairing (bounded fanout: the type
    * vocabulary, not the event volume) compared on exact integer
    * micros. Support is reported absolute and as a fraction of users
    * active on both types.
    */
  private val seqPairs = QueryDef(
    "q_seq_pairs",
    (spark, sfDir) => {
      val spans = Tables.events(spark, sfDir)
        .groupBy("user_id", "event_type")
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
      spans.as("a").join(spans.as("b"), Seq("user_id"))
        .filter(col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_users_both"),
          sum((col("a.first_us") < col("b.last_us")).cast("long"))
            .as("n_users_seq"))
        .selectExpr("type_a", "type_b", "n_users_both", "n_users_seq",
          s"${Ql.R("CAST(n_users_seq AS DOUBLE) / n_users_both", 4)} AS support")
        .orderBy("type_a", "type_b")
    },
    Some(s"""
      WITH spans AS (
        SELECT user_id, event_type,
               min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        FROM events GROUP BY 1, 2),
      pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_users_both,
               CAST(sum(CASE WHEN a.first_us < b.last_us THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_users_seq
        FROM spans a JOIN spans b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type
        GROUP BY 1, 2)
      SELECT type_a, type_b, n_users_both, n_users_seq,
             ${Ql.R("CAST(n_users_seq AS DOUBLE) / n_users_both", 4)} AS support
      FROM pairs ORDER BY type_a, type_b
    """))

  /** Stationary distribution of the event-type Markov chain — where
    * the q_markov_transitions matrix settles: three unrolled power-
    * iteration steps π' = πP from the uniform start over the TYPES-
    * SIZED chain (the matrix is 5×5 — bounded by the type vocabulary,
    * so every iteration is a broadcast-scale join; the corpus appears
    * only in the one lag-pair aggregation). Transition rows are exact
    * integer counts normalized per step via shared formula text; each
    * iterate is rounded at 8 dp before the next multiply (the
    * q_pca_power rounded-trajectory contract), and the report compares
    * π₃ to the raw visit share so the "long-run vs observed" drift is
    * the readout.
    */
  private val markovStationary = QueryDef(
    "q_markov_stationary",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .checkpointed // feeds all three iterations + the share
      val p = pairs
        .withColumn("p",
          expr("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)"))
        .select(col("from_type"), col("to_type"), col("p"))
      // k as a 1-row broadcast, not a driver-side count
      val kf = p.select(col("from_type")).distinct()
        .agg(count(lit(1)).cast("double").as("k"))
      var pi = p.select(col("from_type").as("t")).distinct()
        .crossJoin(broadcast(kf))
        .selectExpr("t", "1.0 / k AS pi")
      for (_ <- 1 to 3) {
        pi = p.join(pi.select(col("t").as("from_type"), col("pi")), "from_type")
          .groupBy(col("to_type").as("t"))
          .agg(Ql.r(sum(expr("pi * p")), 8).as("pi"))
      }
      val visits = pairs.groupBy(col("to_type").as("t"))
        .agg(sum("n").as("nv"))
      val tot = pairs.agg(sum("n").as("nt"))
      pi.join(visits, "t").crossJoin(broadcast(tot))
        .selectExpr("t AS event_type",
          s"${Ql.R("pi", 4)} AS stationary_pi",
          s"${Ql.R("CAST(nv AS DOUBLE) / nt", 4)} AS visit_share")
        .orderBy("event_type")
    },
    Some(s"""
      WITH pairs AS (
        SELECT from_type, event_type AS to_type, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT event_type,
                     lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS from_type
              FROM events)
        WHERE from_type IS NOT NULL GROUP BY 1, 2),
      p AS (
        SELECT from_type, to_type,
               CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
        FROM pairs),
      k AS (SELECT CAST(count(DISTINCT from_type) AS DOUBLE) AS k FROM p),
      pi0 AS (SELECT DISTINCT from_type AS t, 1.0 / k.k AS pi FROM p, k),
      pi1 AS (SELECT to_type AS t, ${Ql.R("sum(pi * p)", 8)} AS pi
              FROM p JOIN pi0 ON p.from_type = pi0.t GROUP BY 1),
      pi2 AS (SELECT to_type AS t, ${Ql.R("sum(pi * p)", 8)} AS pi
              FROM p JOIN pi1 ON p.from_type = pi1.t GROUP BY 1),
      pi3 AS (SELECT to_type AS t, ${Ql.R("sum(pi * p)", 8)} AS pi
              FROM p JOIN pi2 ON p.from_type = pi2.t GROUP BY 1),
      visits AS (SELECT to_type AS t, CAST(sum(n) AS BIGINT) AS nv
                 FROM pairs GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM pairs)
      SELECT pi3.t AS event_type,
             ${Ql.R("pi3.pi", 4)} AS stationary_pi,
             ${Ql.R("CAST(nv AS DOUBLE) / nt", 4)} AS visit_share
      FROM pi3 JOIN visits ON pi3.t = visits.t CROSS JOIN tot
      ORDER BY event_type
    """))

  /** Cohort lifetime value — the revenue twin of q_retention_cohorts:
    * users grouped by first-seen week, purchase value accumulated per
    * week offset, reported as the CUMULATIVE per-user LTV curve each
    * cohort has traced so far. Money is exact BIGINT cents end to end;
    * the cumulative sum runs over the tiny cohort×offset grid
    * (calendar-bounded), partitioned by cohort; per-user division is
    * one rounded divide at the end. All user-level work is one keyed
    * aggregation family on user_id.
    */
  private val cohortLtv = QueryDef(
    "q_cohort_ltv",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_type"),
          Ql.r(col("value") * 100, 0).cast("long").as("cents"))
      val firstSeen = e.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("d0"))
        .withColumn("cohort", expr("date_trunc('week', d0)"))
      val cohortSizes = firstSeen.groupBy("cohort")
        .agg(countDistinct("user_id").as("n_users"))
      val weekly = e.filter(col("event_type") === "purchase")
        .join(firstSeen, "user_id")
        .withColumn("wk", floor(datediff(to_date(col("ts")), col("d0")) / 7).cast("long"))
        .groupBy("cohort", "wk")
        .agg(sum("cents").as("rev_cents"))
      val wc = Window.partitionBy("cohort").orderBy("wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weekly
        .withColumn("cum_cents", sum("rev_cents").over(wc))
        .join(broadcast(cohortSizes), "cohort")
        .selectExpr("date_format(cohort, 'yyyy-MM-dd') AS cohort_week",
          "wk", "n_users",
          s"${Ql.R("rev_cents / 100.0", 2)} AS week_revenue",
          s"${Ql.R("cum_cents / 100.0 / n_users", 4)} AS cum_ltv_per_user")
        .orderBy("cohort_week", "wk")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, ts, event_type,
               CAST(${Ql.R("value * 100", 0)} AS BIGINT) AS cents
        FROM events),
      fs AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d0,
               date_trunc('week', min(CAST(ts AS DATE))) AS cohort
        FROM e GROUP BY 1),
      cs AS (SELECT cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             FROM fs GROUP BY 1),
      weekly AS (
        SELECT fs.cohort, CAST(floor(date_diff('day', d0, CAST(e.ts AS DATE)) / 7) AS BIGINT) AS wk,
               CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM e JOIN fs ON e.user_id = fs.user_id
        WHERE event_type = 'purchase'
        GROUP BY 1, 2),
      cum AS (
        SELECT cohort, wk, rev_cents,
               sum(rev_cents) OVER (PARTITION BY cohort ORDER BY wk
                 ROWS UNBOUNDED PRECEDING) AS cum_cents
        FROM weekly)
      SELECT strftime(CAST(cum.cohort AS DATE), '%Y-%m-%d') AS cohort_week, wk, n_users,
             ${Ql.R("rev_cents / 100.0", 2)} AS week_revenue,
             ${Ql.R("cum_cents / 100.0 / n_users", 4)} AS cum_ltv_per_user
      FROM cum JOIN cs ON cum.cohort = cs.cohort
      ORDER BY cohort_week, wk
    """))

  /** Growth accounting — each day's active users split into NEW (first
    * day ever), RETURNING (active within the prior 7 days), and
    * RESURRECTED (back after 7+ days away) — the DAU decomposition
    * every growth dashboard leads with. The machinery is two user-keyed
    * windows (first-seen via min, previous-active-day via lag over the
    * per-user distinct-day table) — one co-partitioned shuffle family,
    * exact integer day arithmetic, and a calendar-bounded daily report.
    */
  private val growthAccounting = QueryDef(
    "q_growth_accounting",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val userDays = Tables.events(spark, sfDir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      userDays
        .withColumn("prev", lag("day", 1).over(w))
        .withColumn("cls",
          when(col("prev").isNull, "new")
            .when(datediff(col("day"), col("prev")) <= 7, "returning")
            .otherwise("resurrected"))
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("dau"),
          sum((col("cls") === "new").cast("long")).as("n_new"),
          sum((col("cls") === "returning").cast("long")).as("n_returning"),
          sum((col("cls") === "resurrected").cast("long")).as("n_resurrected"))
        .orderBy("day")
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      c AS (
        SELECT day,
               CASE WHEN lag(day) OVER (PARTITION BY user_id ORDER BY day) IS NULL
                      THEN 'new'
                    WHEN date_diff('day',
                      lag(day) OVER (PARTITION BY user_id ORDER BY day), day) <= 7
                      THEN 'returning'
                    ELSE 'resurrected' END AS cls
        FROM ud)
      SELECT strftime(day, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS dau,
             CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN cls = 'returning' THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
             CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM c GROUP BY 1 ORDER BY 1
    """))

  /** Inter-purchase interval distribution — the repeat-behavior metric
    * behind replenishment reminders and churn-risk windows: per user,
    * the day gaps between consecutive purchases (user-keyed lag window,
    * one co-partitioned shuffle), then the corpus-level gap
    * distribution as exact integer percentiles plus the share of gaps
    * within a week. Gaps are exact integer days; the percentiles
    * interpolate identical operands in both engines and round at 2 dp.
    */
  private val purchaseIntervals = QueryDef(
    "q_purchase_intervals",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap",
          datediff(to_date(col("ts")), to_date(lag("ts", 1).over(w))))
        .filter(col("gap").isNotNull)
        .agg(
          count(lit(1)).as("n_gaps"),
          Ql.r(expr("percentile(gap, 0.5)"), 2).as("p50_days"),
          Ql.r(expr("percentile(gap, 0.9)"), 2).as("p90_days"),
          max("gap").cast("long").as("max_days"),
          Ql.r(expr("100.0 * sum(CASE WHEN gap <= 7 THEN 1 ELSE 0 END) / count(*)"), 4)
            .as("within_week_pct"))
    },
    Some(s"""
      WITH p AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
      g AS (
        SELECT date_diff('day',
                 CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DATE),
                 CAST(ts AS DATE)) AS gap
        FROM p)
      SELECT CAST(count(*) AS BIGINT) AS n_gaps,
             ${Ql.R("percentile_cont(0.5) WITHIN GROUP (ORDER BY gap)", 2)} AS p50_days,
             ${Ql.R("percentile_cont(0.9) WITHIN GROUP (ORDER BY gap)", 2)} AS p90_days,
             CAST(max(gap) AS BIGINT) AS max_days,
             ${Ql.R("100.0 * sum(CASE WHEN gap <= 7 THEN 1 ELSE 0 END) / count(*)", 4)} AS within_week_pct
      FROM g WHERE gap IS NOT NULL
    """))

  /** Position-based (U-shaped) multi-touch attribution — the 40/20/40
    * sibling of q_attribution's last-touch rule: each user's pre-first-
    * purchase journey of views and clicks splits the conversion credit
    * 40% first touch, 40% last touch, 20% shared across the middle
    * (k=1 → 100%, k=2 → 50/50 by the same CASE in both engines). All
    * journey machinery is user-keyed (first-purchase anchor, journey
    * rank, journey length — one co-partitioned shuffle family, no
    * global windows); credits are doubles via identical CASE text and
    * the channel totals round at 2 dp (the suite's accepted mean-sum
    * class). Output: per event type, the touch count and the
    * position-weighted credit total.
    */
  private val attributionPosition = QueryDef(
    "q_attribution_position",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val firstPurchase = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("ts").as("conv_ts"))
      val touches = e.filter(col("event_type").isin("view", "click"))
        .join(firstPurchase, "user_id")
        .filter(col("ts") < col("conv_ts"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ranked = touches
        .withColumn("rn", row_number().over(w))
        .withColumn("k", count(lit(1)).over(Window.partitionBy("user_id")))
      val credit =
        """CASE WHEN k = 1 THEN 1.0
                WHEN k = 2 THEN 0.5
                WHEN rn = 1 OR rn = k THEN 0.4
                ELSE 0.2 / (k - 2) END"""
      ranked
        .selectExpr("event_type", s"$credit AS credit")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_touches"),
          Ql.r(sum("credit"), 2).as("credit"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH fp AS (
        SELECT user_id, min(ts) AS conv_ts FROM events
        WHERE event_type = 'purchase' GROUP BY 1),
      t AS (
        SELECT e.user_id, e.ts, e.event_id, e.event_type
        FROM events e JOIN fp ON e.user_id = fp.user_id
        WHERE e.event_type IN ('view', 'click') AND e.ts < fp.conv_ts),
      r AS (
        SELECT event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS k
        FROM t),
      c AS (
        SELECT event_type,
               CASE WHEN k = 1 THEN 1.0
                    WHEN k = 2 THEN 0.5
                    WHEN rn = 1 OR rn = k THEN 0.4
                    ELSE 0.2 / (k - 2) END AS credit
        FROM r)
      SELECT event_type, count(*) AS n_touches,
             ${Ql.R("sum(credit)", 2)} AS credit
      FROM c GROUP BY 1 ORDER BY 1
    """))

  override def defs: Seq[QueryDef] = Seq(hourlyEventStats, funnel, eventPaths,
    retentionCohorts, tsResample, anomalyZscore, attribution, markov,
    funnelWindowed, ewmaDaily, madAnomaly, psiDrift, autocorr, benford,
    dowProfile, ksDrift, stickiness, timeToConvert, cusumChangepoint,
    stlSeasonal, userFeatures, twap, stlResidualAnomaly,
    seasonalStrength, rollingDistinct, kaplanMeier, nelsonAalen,
    attributionPosition, shapleyAttribution,
    seqPairs, markovStationary, cohortLtv, purchaseIntervals,
    growthAccounting)
}
