package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** G10 misc functions (SURVEY §2.G10). Nondeterministic-by-design ids
  * (monotonically_increasing_id, uuid, spark_partition_id,
  * input_file_name) can't hash-match an oracle value-for-value — so the
  * query emits their *invariants* as deterministic columns (row count,
  * uniqueness-as-boolean, presence flags) that an oracle CAN check:
  * the count comes from the table, the flags are exactly 1 whenever the
  * id functions behave per contract. Plus `stack` as the literal-table
  * generator.
  */
object MiscQueries extends QueryModule {

  private val miscIds = QueryDef(
    "q_misc_ids",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .withColumn("mono_id", monotonically_increasing_id())
        .withColumn("part_id", spark_partition_id())
        .withColumn("uid", expr("uuid()"))
        .withColumn("fname", input_file_name())
      e.agg(
        count(lit(1)).as("n"),
        (countDistinct(col("mono_id")) === count(lit(1))).cast("int").as("mono_ids_unique"),
        (countDistinct(col("uid")) === count(lit(1))).cast("int").as("uuids_unique"),
        (countDistinct(col("fname")) >= 1).cast("int").as("has_files"),
        (countDistinct(col("part_id")) >= 1).cast("int").as("has_partitions"))
    },
    Some("""
      SELECT count(*) AS n,
             1 AS mono_ids_unique,
             1 AS uuids_unique,
             1 AS has_files,
             1 AS has_partitions
      FROM events
    """))

  /** stack(): literal rows generator (the UNPIVOT shape). */
  private val miscStack = QueryDef(
    "q_misc_stack",
    (spark, sfDir) =>
      Tables.region(spark, sfDir)
        .select(col("r_name"), expr(
          "stack(2, 'upper', upper(r_name), 'lower', lower(r_name)) AS (variant, value)"))
        .orderBy("r_name", "variant"),
    Some("""
      SELECT r_name, variant, CASE variant WHEN 'upper' THEN upper(r_name)
                                           ELSE lower(r_name) END AS value
      FROM region, (SELECT unnest(['upper', 'lower']) AS variant)
      ORDER BY r_name, variant
    """))

  /** The SQL-string entry path: temp views + spark.sql — same Catalyst
    * plans as the DataFrame API (Spark's parser IS the engine's SQL
    * parser; SURVEY non-goal "no SQL parser of our own").
    */
  private val sqlInterface = QueryDef(
    "q_sql_interface",
    (spark, sfDir) => {
      Tables.orders(spark, sfDir).createOrReplaceTempView("v_orders")
      Tables.customer(spark, sfDir).createOrReplaceTempView("v_customer")
      spark.sql(s"""
        SELECT c_mktsegment, o_orderstatus,
               count(*) AS n,
               round(sum(o_totalprice) + 1e-9, 2) AS revenue
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)
    },
    Some(s"""
      SELECT c_mktsegment, o_orderstatus, count(*) AS n,
             ${Ql.R("sum(o_totalprice)")} AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Correlated EXISTS + NOT EXISTS chain (TPC-H Q21 shape adapted to the
    * driver schema): suppliers' lineitems in multi-supplier orders where
    * no other supplier shipped later. Exercises Catalyst's subquery
    * decorrelation — both correlated predicates rewrite to semi/anti
    * joins; the DataFrame-API joins elsewhere never take this SQL path.
    */
  private val sqlExistsChain = QueryDef(
    "q_sql_exists_chain",
    (spark, sfDir) => {
      Tables.lineitem(spark, sfDir).createOrReplaceTempView("v_lineitem_ec")
      Tables.orders(spark, sfDir).createOrReplaceTempView("v_orders_ec")
      Tables.supplier(spark, sfDir).createOrReplaceTempView("v_supplier_ec")
      spark.sql("""
        SELECT s_name, count(*) AS numwait
        FROM v_supplier_ec, v_lineitem_ec l1, v_orders_ec
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND EXISTS (SELECT 1 FROM v_lineitem_ec l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM v_lineitem_ec l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
      """)
    },
    Some("""
      SELECT s_name, count(*) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey
        AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > l1.l_shipdate)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 20
    """))

  /** Correlated scalar aggregate subquery — orders priced far above their
    * own lineitems' average. Decorrelates to an aggregate + join.
    */
  private val sqlScalarSubq = QueryDef(
    "q_sql_scalar_subq",
    (spark, sfDir) => {
      Tables.lineitem(spark, sfDir).createOrReplaceTempView("v_lineitem_ss")
      Tables.orders(spark, sfDir).createOrReplaceTempView("v_orders_ss")
      spark.sql(s"""
        SELECT o_orderpriority, count(*) AS n
        FROM v_orders_ss
        WHERE o_totalprice > 3 * (SELECT avg(l_extendedprice)
                                  FROM v_lineitem_ss
                                  WHERE l_orderkey = o_orderkey)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n
      FROM orders
      WHERE o_totalprice > 3 * (SELECT avg(l_extendedprice)
                                FROM lineitem
                                WHERE l_orderkey = o_orderkey)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """))

  /** SCD2 (slowly-changing-dimension type 2) history rebuild: each
    * customer's order-priority timeline becomes versioned validity spans
    * — valid_from/valid_to plus an is_current flag, the warehouse pattern
    * for "what was true when". Gaps-and-islands: a lag-change flag, a
    * running sum for the span id, one aggregation, a lead for the close
    * date — all windows ride the SAME (custkey, ts, ok) partition/sort,
    * so the plan is one shuffle + one sort reused by every step at any
    * scale. The span id doubles as the version column so the output's
    * sort key stays unique even when two spans open on the same
    * timestamp (date-granular order timestamps make ties routine).
    */
  private val scd2History = QueryDef(
    "q_scd2_history",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(spark, sfDir)
        .filter(col("o_custkey") < 100) // bounded report; pushed to the scan
        .select(col("o_custkey").as("custkey"), col("o_orderpriority").as("prio"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("ok"))
      val wSeq = Window.partitionBy("custkey").orderBy(col("ts"), col("ok"))
      val spans = o
        .withColumn("changed",
          when(lag(col("prio"), 1).over(wSeq).isNull ||
            lag(col("prio"), 1).over(wSeq) =!= col("prio"), 1L).otherwise(0L))
        .withColumn("g", sum(col("changed")).over(wSeq))
        .groupBy("custkey", "g")
        .agg(min(col("prio")).as("priority"), min(col("ts")).as("vf"))
      val wSpan = Window.partitionBy("custkey").orderBy("g")
      spans
        .withColumn("vt", lead(col("vf"), 1).over(wSpan))
        .select(col("custkey"), col("g").cast("int").as("version"), col("priority"),
          Ql.tstr(col("vf")).as("valid_from"),
          coalesce(Ql.tstr(col("vt")), lit("current")).as("valid_to"),
          col("vt").isNull.cast("int").as("is_current"))
        .orderBy("custkey", "version")
    },
    Some("""
      WITH o AS (
        SELECT o_custkey AS custkey, o_orderpriority AS prio,
               o_orderdate AS ts, o_orderkey AS ok
        FROM orders WHERE o_custkey < 100),
      marked AS (
        SELECT *, CASE WHEN lag(prio) OVER w IS NULL
                         OR lag(prio) OVER w <> prio THEN 1 ELSE 0 END AS changed
        FROM o WINDOW w AS (PARTITION BY custkey ORDER BY ts, ok)),
      grp AS (
        SELECT *, sum(changed) OVER (PARTITION BY custkey ORDER BY ts, ok) AS g
        FROM marked),
      spans AS (
        SELECT custkey, g, min(prio) AS priority, min(ts) AS vf
        FROM grp GROUP BY 1, 2),
      fin AS (
        SELECT custkey, g, priority, vf,
               lead(vf) OVER (PARTITION BY custkey ORDER BY g) AS vt
        FROM spans)
      SELECT custkey, CAST(g AS INT) AS version, priority,
             strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
             coalesce(strftime(vt, '%Y-%m-%d %H:%M:%S'), 'current') AS valid_to,
             CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
      FROM fin ORDER BY custkey, version
    """))

  /** G10-rec: recursive CTE (Spark 4's WITH RECURSIVE) — bounded-depth
    * BFS reachability over the support-≥2 co-purchase graph: per seed
    * part, how many parts are within 1 and 2 hops. The depth bound
    * (`d < 2`) is what makes UNION ALL recursion terminate on a CYCLIC
    * graph — both engines run the identical expansion, and min-dist per
    * (seed, part) collapses the duplicate paths before counting. At
    * 100 TB you'd run this as the explicit iterative-join loop
    * (ClusterQueries/GraphQueries shape — checkpoint per round); this
    * query pins the SQL surface itself, on the same semantics DuckDB
    * executes.
    */
  private val sqlRecursive = QueryDef(
    "q_sql_recursive",
    (spark, sfDir) => {
      // materialize the edge list BEFORE entering the recursion: CTEs
      // referenced from the recursive step re-evaluate per round, so the
      // pair aggregation (the only data-sized step) must not sit inside
      // the recursive scope (measured 6.9 s → ~1.5 s at sf0.1)
      val pairs = GraphQueries.itemPairs(GraphQueries.orderItems(spark, sfDir))
        .filter(col("s_ab") >= 2)
      // declared-u layout on the checkpoint (r17 session 2, the pageRank
      // bridge): every recursion level joins `e.u = r.part`, and a plain
      // localCheckpoint reports UNKNOWN partitioning under AQE, so each
      // level re-shuffled the full edge table — with the declared leaf
      // only the (smaller) frontier side moves per level
      pairs.select(col("a").as("u"), col("b").as("v"))
        .unionByName(pairs.select(col("b").as("u"), col("a").as("v")))
        .checkpointedBy("u")
        .createOrReplaceTempView("v_edges_rec")
      spark.sql("""
        WITH RECURSIVE
        edges AS (SELECT u, v FROM v_edges_rec),
        seeds AS (SELECT DISTINCT u AS seed FROM edges WHERE u % 50 = 0),
        reach(seed, part, d) AS (
          SELECT seed, seed, 0 FROM seeds
          UNION ALL
          SELECT r.seed, e.v, r.d + 1
          FROM reach r JOIN edges e ON e.u = r.part
          WHERE r.d < 2),
        md AS (
          SELECT seed, part, min(d) AS dist FROM reach GROUP BY 1, 2)
        SELECT seed,
               CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1hop,
               CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2hop
        FROM md GROUP BY seed ORDER BY seed
      """)
    },
    Some(s"""
      WITH RECURSIVE items AS (${GraphQueries.itemsSql}),
      pairs AS (SELECT * FROM (${GraphQueries.pairsSql}) WHERE s_ab >= 2),
      edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b, a FROM pairs),
      seeds AS (SELECT DISTINCT u AS seed FROM edges WHERE u % 50 = 0),
      reach(seed, part, d) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION ALL
        SELECT r.seed, e.v, r.d + 1
        FROM reach r JOIN edges e ON e.u = r.part
        WHERE r.d < 2),
      md AS (
        SELECT seed, part, min(d) AS dist FROM reach GROUP BY 1, 2)
      SELECT seed,
             CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1hop,
             CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2hop
      FROM md GROUP BY seed ORDER BY seed
    """))

  /** Point-in-time-correct join — the feature-store operation: each fact
    * row (a lineitem shipment) reads the dimension value (its customer's
    * order-priority) AS OF the fact's own timestamp, never a later one —
    * the leakage-free way to assemble training features from mutable
    * dimensions. Spans come from the same gaps-and-islands rebuild as
    * q_scd2_history; the PIT lookup is an equi-join on custkey plus a
    * half-open validity filter `vf <= ts < vt` (each fact ships on or
    * after its customer's first order, so exactly one span matches —
    * asserted by the n_facts total). The dimension side is spans, not
    * raw history — per-customer span counts are small, so the join
    * fanout is bounded by versions, not orders.
    */
  private val pitJoin = QueryDef(
    "q_pit_join",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(spark, sfDir)
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey").as("custkey"), col("o_orderpriority").as("prio"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("ok"))
      val wSeq = Window.partitionBy("custkey").orderBy(col("ts"), col("ok"))
      val spans = o
        .withColumn("changed",
          when(lag(col("prio"), 1).over(wSeq).isNull ||
            lag(col("prio"), 1).over(wSeq) =!= col("prio"), 1L).otherwise(0L))
        .withColumn("g", sum(col("changed")).over(wSeq))
        .groupBy("custkey", "g")
        .agg(min(col("prio")).as("priority"), min(col("ts")).as("vf"))
        .withColumn("vt",
          lead(col("vf"), 1).over(Window.partitionBy("custkey").orderBy("g")))
      val facts = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir).filter(col("o_custkey") < 100)
            .select(col("o_orderkey"), col("o_custkey").as("custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("custkey"), col("l_shipdate").as("fts"),
          col("l_extendedprice").as("price"))
      facts.join(spans, Seq("custkey"))
        .filter(col("fts") >= col("vf") &&
          (col("vt").isNull || col("fts") < col("vt")))
        .groupBy("priority")
        .agg(count(lit(1)).as("n_facts"),
          Ql.r(sum(col("price")), 2).as("revenue_as_of"))
        .orderBy("priority")
    },
    Some("""
      WITH o AS (
        SELECT o_custkey AS custkey, o_orderpriority AS prio,
               o_orderdate AS ts, o_orderkey AS ok
        FROM orders WHERE o_custkey < 100),
      marked AS (
        SELECT *, CASE WHEN lag(prio) OVER w IS NULL
                         OR lag(prio) OVER w <> prio THEN 1 ELSE 0 END AS changed
        FROM o WINDOW w AS (PARTITION BY custkey ORDER BY ts, ok)),
      grp AS (
        SELECT *, sum(changed) OVER (PARTITION BY custkey ORDER BY ts, ok) AS g
        FROM marked),
      spans AS (
        SELECT custkey, g, min(prio) AS priority, min(ts) AS vf
        FROM grp GROUP BY 1, 2),
      fin AS (
        SELECT custkey, priority, vf,
               lead(vf) OVER (PARTITION BY custkey ORDER BY g) AS vt
        FROM spans),
      facts AS (
        SELECT o_custkey AS custkey, l_shipdate AS fts, l_extendedprice AS price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey < 100)
      SELECT priority, count(*) AS n_facts,
             round(sum(price) + 1e-9, 2) AS revenue_as_of
      FROM facts JOIN fin USING (custkey)
      WHERE fts >= vf AND (vt IS NULL OR fts < vt)
      GROUP BY 1 ORDER BY 1
    """))

  /** Data-quality check suite (the dbt-test / Deequ shape, public): five
    * assertion families — referential integrity, key uniqueness, accepted
    * values, bounds, freshness window — evaluated as one unioned report
    * with a violation count and pass flag per check. Each check is a
    * single aggregation or anti-join (the FK check broadcasts the
    * dimension keys); nothing scans twice, and the report is 5 rows at
    * any corpus size.
    */
  private val dqChecks = QueryDef(
    "q_dq_checks",
    (spark, sfDir) => {
      val events = Tables.events(spark, sfDir)
      val orders = Tables.orders(spark, sfDir)
      val customer = Tables.customer(spark, sfDir).select("c_custkey")
      def report(name: String, viol: org.apache.spark.sql.DataFrame) =
        viol.select(lit(name).as("check"), col("n_violations"),
          (col("n_violations") === 0L).cast("int").as("pass"))
      val fk = report("orders_custkey_fk",
        orders.join(broadcast(customer),
            col("o_custkey") === col("c_custkey"), "leftanti")
          .agg(count(lit(1)).as("n_violations")))
      val uniq = report("event_id_unique",
        events.agg((count(lit(1)) - countDistinct(col("event_id")))
          .as("n_violations")))
      val dom = report("event_type_domain",
        events.filter(!col("event_type")
            .isin("view", "click", "purchase", "signup", "error"))
          .agg(count(lit(1)).as("n_violations")))
      val bounds = report("value_non_negative",
        events.filter(col("value") < 0).agg(count(lit(1)).as("n_violations")))
      val fresh = report("ts_in_2024",
        events.filter(to_date(col("ts")) < lit("2024-01-01").cast("date") ||
            to_date(col("ts")) >= lit("2025-01-01").cast("date"))
          .agg(count(lit(1)).as("n_violations")))
      fk.unionByName(uniq).unionByName(dom).unionByName(bounds)
        .unionByName(fresh)
        .orderBy("check")
    },
    Some("""
      WITH checks AS (
        SELECT 'orders_custkey_fk' AS check,
               (SELECT count(*) FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                 AS n_violations
        UNION ALL
        SELECT 'event_id_unique',
               (SELECT count(*) - count(DISTINCT event_id) FROM events)
        UNION ALL
        SELECT 'event_type_domain',
               (SELECT count(*) FROM events WHERE event_type NOT IN
                  ('view', 'click', 'purchase', 'signup', 'error'))
        UNION ALL
        SELECT 'value_non_negative',
               (SELECT count(*) FROM events WHERE value < 0)
        UNION ALL
        SELECT 'ts_in_2024',
               (SELECT count(*) FROM events
                WHERE CAST(ts AS DATE) < DATE '2024-01-01'
                   OR CAST(ts AS DATE) >= DATE '2025-01-01'))
      SELECT "check", n_violations,
             CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS pass
      FROM checks ORDER BY "check"
    """))

  /** LATERAL correlated subquery (SQL:1999, Spark ≥3.2 / DuckDB native):
    * top-2 orders per customer via a per-row dependent subquery — the
    * SQL surface users reach for before they learn the window-function
    * rewrite. Catalyst decorrelates the LATERAL into a ranked window
    * under the hood, so the plan is the same WindowGroupLimit shape as
    * q_win_rank — the query exists to pin that the SQL entry point
    * accepts the syntax and produces the decorrelated plan, not to add
    * a new algorithm. Customer list bounded (< 50) so the report stays
    * constant-size.
    */
  private val lateralTopk = QueryDef(
    "q_lateral_topk",
    (spark, sfDir) => {
      Tables.orders(spark, sfDir).createOrReplaceTempView("v_orders_lat")
      Tables.customer(spark, sfDir).createOrReplaceTempView("v_customer_lat")
      spark.sql("""
        SELECT c.c_custkey, t.o_orderkey,
               round(t.o_totalprice + 1e-9, 2) AS price
        FROM v_customer_lat c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM v_orders_lat
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2) t
        WHERE c.c_custkey < 50
        ORDER BY c.c_custkey, price DESC, t.o_orderkey
      """)
    },
    Some(s"""
      SELECT c.c_custkey, t.o_orderkey,
             ${Ql.R("t.o_totalprice")} AS price
      FROM customer c,
      LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2) t
      WHERE c.c_custkey < 50
      ORDER BY c.c_custkey, price DESC, t.o_orderkey
    """))

  /** SCD1 / MERGE-INTO maintenance of a keyed profile snapshot — the
    * type-1 sibling of q_scd2_history: no history, the latest attribute
    * OVERWRITES. The stream's first time-half builds the base snapshot
    * (per-user last event type by (ts, event_id) row order, plus running
    * count/value), the second half is the change batch; the merge is one
    * full outer join on the key with each row classified the way a MERGE
    * INTO reports its actions — `update` (key in both, attributes
    * overwritten, counters accumulated), `insert` (new key), `carry`
    * (untouched). The report rolls up (op, merged last type) so both the
    * classification AND the overwrite semantics are hash-checked, not
    * just row counts. Scale shape: two keyed aggregations + one
    * co-partitioned full outer join on the key — the exact plan a MERGE
    * compiles to — and a 1-row time-midpoint broadcast.
    */
  private val scd1Merge = QueryDef(
    "q_scd1_merge",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
      val b = e.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val halves0 = e.crossJoin(broadcast(b))
        .withColumn("half",
          when(col("us") < col("lo") + (col("hi") - col("lo")) / lit(2), "base")
            .otherwise("delta"))
      // every natural user is active in both halves, so the insert and
      // carry classifications would be vacuous — plant half-only users
      // (copies of user_id < 5 restricted to one half, ids +900000/+910000)
      // so every MERGE action path is exercised and hash-checked
      val plants = halves0.filter(col("user_id") < 5 && col("half") === "base")
        .withColumn("user_id", col("user_id") + 900000)
        .unionByName(halves0.filter(col("user_id") < 5 && col("half") === "delta")
          .withColumn("user_id", col("user_id") + 910000))
      val halves = halves0.unionByName(plants)
      val w = Window.partitionBy("user_id", "half")
        .orderBy(col("us").desc, col("event_id").desc)
      val prof = halves
        .withColumn("rn", row_number().over(w))
        .groupBy("user_id", "half")
        .agg(max(when(col("rn") === 1, col("event_type"))).as("last_type"),
          count(lit(1)).as("n"), sum(col("value")).as("v"))
      val base = prof.filter(col("half") === "base")
        .select(col("user_id"), col("last_type").as("lt_b"),
          col("n").as("n_b"), col("v").as("v_b"))
      val delta = prof.filter(col("half") === "delta")
        .select(col("user_id"), col("last_type").as("lt_d"),
          col("n").as("n_d"), col("v").as("v_d"))
      base.join(delta, Seq("user_id"), "full_outer")
        .withColumn("op",
          when(col("lt_b").isNotNull && col("lt_d").isNotNull, "update")
            .when(col("lt_d").isNotNull, "insert").otherwise("carry"))
        .withColumn("last_type", coalesce(col("lt_d"), col("lt_b")))
        .groupBy("op", "last_type")
        .agg(count(lit(1)).as("n_users"),
          sum(coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n_events"),
          Ql.r(sum(coalesce(col("v_b"), lit(0.0)) + coalesce(col("v_d"), lit(0.0))), 2).as("sum_value"))
        .orderBy("op", "last_type")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
        FROM events),
      b AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
      halves0 AS (
        SELECT e.*, CASE WHEN us < lo + (hi - lo) / 2 THEN 'base' ELSE 'delta' END AS half
        FROM e, b),
      halves AS (
        SELECT * FROM halves0
        UNION ALL
        SELECT user_id + 900000, event_id, event_type, value, us, half
        FROM halves0 WHERE user_id < 5 AND half = 'base'
        UNION ALL
        SELECT user_id + 910000, event_id, event_type, value, us, half
        FROM halves0 WHERE user_id < 5 AND half = 'delta'),
      prof AS (
        SELECT user_id, half,
               max(CASE WHEN rn = 1 THEN event_type END) AS last_type,
               count(*) AS n, sum(value) AS v
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, half
                ORDER BY us DESC, event_id DESC) AS rn
              FROM halves)
        GROUP BY 1, 2),
      base AS (SELECT user_id, last_type AS lt_b, n AS n_b, v AS v_b
               FROM prof WHERE half = 'base'),
      delta AS (SELECT user_id, last_type AS lt_d, n AS n_d, v AS v_d
                FROM prof WHERE half = 'delta'),
      merged AS (
        SELECT CASE WHEN lt_b IS NOT NULL AND lt_d IS NOT NULL THEN 'update'
                    WHEN lt_d IS NOT NULL THEN 'insert' ELSE 'carry' END AS op,
               coalesce(lt_d, lt_b) AS last_type,
               coalesce(n_b, 0) + coalesce(n_d, 0) AS n,
               coalesce(v_b, 0) + coalesce(v_d, 0) AS v
        FROM base FULL OUTER JOIN delta USING (user_id))
      SELECT op, last_type, count(*) AS n_users,
             CAST(sum(n) AS BIGINT) AS n_events,
             ${Ql.R("sum(v)", 2)} AS sum_value
      FROM merged GROUP BY 1, 2 ORDER BY 1, 2
    """))

  override def defs: Seq[QueryDef] = Seq(
    miscIds, miscStack, sqlInterface, sqlExistsChain, sqlScalarSubq,
    scd2History, sqlRecursive, pitJoin, dqChecks, scd1Merge, lateralTopk)
}
