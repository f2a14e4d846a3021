package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Warehouse-layout and frontier analytics: skyline (pareto frontier),
  * multi-dimensional histograms, and Z-order (Morton) clustering — the
  * data-layout side of a 100 TB store, where what matters is not the
  * aggregate itself but whether the plan shape (sweeps, bucketing, bit
  * interleaving) survives scale without a single-partition step.
  */
object WarehouseQueries extends QueryModule {

  /** Skyline / pareto frontier (Börzsönyi et al. 2001, public): parts no
    * other part beats on BOTH (cheaper-or-equal price, bigger-or-equal
    * size) with one strict. The textbook NOT EXISTS is O(n²); the
    * scalable form is the 1-pass sweep — sort by (price asc, size desc),
    * keep points whose size exceeds the running max — done here as a
    * TWO-LEVEL sweep (the q_global_ordinals trick): per-price-bucket
    * running max inside distributed windows, plus each bucket's
    * prefix-max over the TINY bucket-maxima table, broadcast back. The
    * oracle keeps the NOT EXISTS definition, so the hash match proves
    * sweep ≡ dominance semantics, ties and all.
    */
  private val skyline = QueryDef(
    "q_skyline",
    (spark, sfDir) => {
      val parts = Tables.part(spark, sfDir)
        .select(col("p_size"), col("p_retailprice").as("price"))
      val pts = parts.distinct()
        .withColumn("bkt", floor(col("price")).cast("long"))
      // one row per whole-currency bucket — broadcast scale
      val bmax = pts.groupBy("bkt").agg(max(col("p_size")).as("bm"))
        .withColumn("prior",
          coalesce(max(col("bm")).over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
            lit(-1)))
        .select("bkt", "prior")
      val inBucket = Window.partitionBy("bkt")
        .orderBy(col("price").asc, col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = pts.join(broadcast(bmax), "bkt")
        .withColumn("inmax", coalesce(max(col("p_size")).over(inBucket), lit(-1)))
        // preceding set = all strictly-cheaper points (earlier buckets via
        // prior, same bucket via the window) plus equal-price larger-size
        // ones — exactly the dominators under the sweep order
        .filter(col("p_size") > greatest(col("prior"), col("inmax")))
        .select("p_size", "price")
      parts.groupBy("p_size", "price").agg(count(lit(1)).as("n_parts"))
        .join(sky, Seq("p_size", "price"))
        .select(col("p_size"), Ql.r(col("price"), 2).as("price_r"), col("n_parts"))
        .orderBy("p_size")
    },
    Some(s"""
      WITH pts AS (SELECT DISTINCT p_size, p_retailprice AS price FROM part),
      sky AS (
        SELECT p_size, price FROM pts p
        WHERE NOT EXISTS (
          SELECT 1 FROM pts q
          WHERE q.price <= p.price AND q.p_size >= p.p_size
            AND (q.price < p.price OR q.p_size > p.p_size))),
      grp AS (SELECT p_size, p_retailprice AS price, count(*) AS n_parts
              FROM part GROUP BY 1, 2)
      SELECT g.p_size, ${Ql.R("g.price", 2)} AS price_r, g.n_parts
      FROM grp g JOIN sky s ON g.p_size = s.p_size AND g.price = s.price
      ORDER BY g.p_size
    """))

  /** 2-D equi-width histogram — the (status × price-band) heatmap every
    * warehouse dashboard starts from. One keyed aggregation with
    * map-side combine; the bucket id is closed-form arithmetic (no
    * percentile pass), so the full job is a single scan + one tiny
    * shuffle no matter the scale. The literal divisor is CAST to double
    * in the oracle because DuckDB would otherwise parse it as DECIMAL
    * and divide under different rules than Spark's double path.
    */
  private val histogram2d = QueryDef(
    "q_histogram2d",
    (spark, sfDir) => {
      val b = least(lit(19), floor(col("o_totalprice") / lit(25000.0))).cast("long")
      Tables.orders(spark, sfDir)
        .groupBy(col("o_orderstatus"), b.as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          Ql.r(sum(col("o_totalprice")), 2).as("sum_price"))
        .withColumn("lo", (col("bucket") * 25000).cast("long"))
        .select(col("o_orderstatus"), col("bucket"), col("lo"),
          col("n_orders"), col("sum_price"))
        .orderBy("o_orderstatus", "bucket")
    },
    Some(s"""
      SELECT o_orderstatus, bucket, CAST(bucket * 25000 AS BIGINT) AS lo,
             count(*) AS n_orders,
             ${Ql.R("sum(o_totalprice)", 2)} AS sum_price
      FROM (SELECT o_orderstatus, o_totalprice,
                   CAST(least(19, floor(o_totalprice / CAST(25000 AS DOUBLE))) AS BIGINT)
                     AS bucket
            FROM orders)
      GROUP BY 1, 2, 3 ORDER BY 1, 2
    """))

  /** Z-order (Morton) clustering — interleave the bits of two quantized
    * dimensions so that sorting by ONE key co-locates rows that are close
    * in BOTH (the layout trick behind multi-column data skipping in
    * modern lakehouse formats; Morton 1966, public). 6 bits of p_size ×
    * 6 bits of a price quantile step, z ∈ [0, 4096); rows grouped into
    * 64 z-ranges ("files"). The output per range is its bounding box in
    * both dimensions — the min/max stats a scan would prune on — and the
    * hash match pins the interleave arithmetic bit-for-bit across
    * engines. A linear sort by either single column would leave the
    * other dimension's per-file range at full width; z-ranges bound
    * both, which is the entire point of the layout.
    */
  private val zorderLayout = QueryDef(
    "q_zorder_layout",
    (spark, sfDir) => {
      // native codegen Morton interleave (functions.ZOrder) — proven
      // equal to the shift/mask SQL formula the oracle uses (PropertySpec)
      // both dims clamped to the 6 bits the oracle interleaves — an
      // out-of-domain p_size would otherwise set z bits the expanded
      // formula drops
      // y quantization spans the REAL p_retailprice domain (~900-2099):
      // step 18.75 = 1200/64, exactly representable in binary, so the
      // 6-bit dimension spreads over the whole range instead of clamping
      // ~90% of parts to y=63 (the r6 advice finding — degenerate price
      // bounding boxes defeat the layout's pruning claim)
      Tables.part(spark, sfDir)
        .select(least(lit(63L), col("p_size").cast("long")).as("x"),
          greatest(lit(0L), least(lit(63L),
            floor((col("p_retailprice") - 900.0) / 18.75).cast("long"))).as("y"))
        .withColumn("z", graft.functions.ZOrder(col("x"), col("y")))
        .groupBy((col("z") / 64).cast("long").as("zrange"))
        .agg(count(lit(1)).as("n_parts"),
          min(col("x")).as("min_size"), max(col("x")).as("max_size"),
          min(col("y")).as("min_pb"), max(col("y")).as("max_pb"))
        .orderBy("zrange")
    },
    Some {
      val duckZ = (0 to 5).map(j =>
        s"(((x >> $j) & 1) << ${2 * j}) + (((y >> $j) & 1) << ${2 * j + 1})")
        .mkString(" + ")
      s"""
      WITH d AS (
        SELECT least(63, CAST(p_size AS BIGINT)) AS x,
               greatest(0, least(63, CAST(floor((p_retailprice - CAST(900 AS DOUBLE))
                 / CAST(18.75 AS DOUBLE)) AS BIGINT))) AS y
        FROM part),
      z AS (SELECT x, y, $duckZ AS z FROM d)
      SELECT z // 64 AS zrange, count(*) AS n_parts,
             min(x) AS min_size, max(x) AS max_size,
             min(y) AS min_pb, max(y) AS max_pb
      FROM z GROUP BY 1 ORDER BY 1
    """
    })

  /** Equi-depth (decile) binning WITHOUT the single-partition ntile
    * window: global ordinals come from the two-level rank (price-range
    * buckets + tiny offset histogram, the q_global_ordinals pattern) and
    * the tile id is then CLOSED-FORM from (ordinal, n) — the exact
    * integer arithmetic ntile uses: the first n mod k tiles get
    * ⌈n/k⌉ rows, the rest ⌊n/k⌋. The oracle ranks with a literal
    * `ntile(10) OVER (ORDER BY …)` — the hash match proves the
    * distributed formula IS ntile, boundary rows included. This is how a
    * quantile discretizer (feature binning) runs at 100 TB, where a
    * global ntile window would collapse to one partition.
    */
  private val equidepthBins = QueryDef(
    "q_equidepth_bins",
    (spark, sfDir) => {
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("bkt", floor(col("o_totalprice") / lit(25000.0)).cast("long"))
      val offsets = orders.groupBy("bkt").agg(count(lit(1)).as("cnt"))
        .withColumn("offset",
          coalesce(sum(col("cnt")).over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "offset")
      val nRow = orders.agg(count(lit(1)).as("n"))
      val inBucket = Window.partitionBy("bkt").orderBy("o_totalprice", "o_orderkey")
      orders
        .join(broadcast(offsets), "bkt")
        .withColumn("o", col("offset") + row_number().over(inBucket))
        .crossJoin(broadcast(nRow))
        // ntile's exact integer split: first (n % 10) tiles take one extra
        .withColumn("tile", expr("""
          CASE WHEN o <= (n % 10) * (n div 10 + 1)
               THEN (o - 1) div (n div 10 + 1) + 1
               ELSE (n % 10) + (o - (n % 10) * (n div 10 + 1) - 1) div (n div 10) + 1
          END"""))
        .groupBy("tile")
        .agg(count(lit(1)).as("n_orders"),
          Ql.r(min(col("o_totalprice")), 2).as("lo"),
          Ql.r(max(col("o_totalprice")), 2).as("hi"))
        .orderBy("tile")
    },
    Some(s"""
      WITH t AS (
        SELECT o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS tile
        FROM orders)
      SELECT CAST(tile AS BIGINT) AS tile, count(*) AS n_orders,
             ${Ql.R("min(o_totalprice)", 2)} AS lo,
             ${Ql.R("max(o_totalprice)", 2)} AS hi
      FROM t GROUP BY 1 ORDER BY 1
    """))

  /** k-anonymity audit — the privacy-side curation gate: bucket every
    * document by its quasi-identifier tuple (lang, source, length band)
    * and measure how much of the corpus sits in groups smaller than k=5,
    * i.e. rows a k-anonymous release would have to suppress or
    * generalize (Sweeney 2002, public). Two keyed aggregations, both
    * map-side combined; the QI table is bounded by the attribute
    * cross-product, not the corpus.
    */
  private val kAnonymity = QueryDef(
    "q_k_anonymity",
    (spark, sfDir) => {
      val k = 5
      val qi = Tables.documents(spark, sfDir)
        .groupBy(col("lang"), col("source"),
          (col("n_chars") / 50).cast("long").as("len_band"))
        .agg(count(lit(1)).as("gn"))
      qi.groupBy("lang")
        .agg(count(lit(1)).as("n_groups"),
          sum((col("gn") < k).cast("long")).as("n_small_groups"),
          sum(when(col("gn") < k, col("gn")).otherwise(0L)).as("n_suppressed"),
          sum(col("gn")).as("n_docs"))
        .withColumn("suppressed_frac",
          Ql.r(col("n_suppressed") / col("n_docs"), 4))
        .orderBy("lang")
    },
    Some(s"""
      WITH qi AS (
        SELECT lang, source, n_chars // 50 AS len_band, count(*) AS gn
        FROM documents GROUP BY 1, 2, 3)
      SELECT lang, count(*) AS n_groups,
             CAST(sum(CASE WHEN gn < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
             CAST(sum(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS BIGINT) AS n_suppressed,
             CAST(sum(gn) AS BIGINT) AS n_docs,
             ${Ql.R("sum(CASE WHEN gn < 5 THEN gn ELSE 0 END) / sum(gn)", 4)} AS suppressed_frac
      FROM qi GROUP BY 1 ORDER BY 1
    """))

  /** Hash-shard skew audit — the pre-flight check before a bucketed
    * write: shard the corpus 64 ways on the deterministic md5 bucket of
    * doc_id (the q_train_split hash family) and report each shard's row
    * and byte load against the uniform expectation. At 100 TB this is
    * the query you run BEFORE committing to a bucket count: a
    * docs_ratio far from 1.0 means the proposed key skews and the write
    * (and every later bucket join) inherits a straggler. One keyed
    * aggregation to a 64-row table + a 1-row totals broadcast — audit
    * cost is one scan regardless of shard count.
    */
  private val shardSkew = QueryDef(
    "q_shard_skew",
    (spark, sfDir) => {
      val sh = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"))
        .withColumn("shard",
          (expr(Ql.md5PrefixLong("CAST(doc_id AS STRING)", 4)) % 64).cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val tot = sh.agg(sum(col("n_docs")).cast("double").as("t_docs"),
        sum(col("n_chars")).cast("double").as("t_chars"))
      sh.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_chars"),
          Ql.r(col("n_docs") * 64 / col("t_docs"), 4).as("docs_ratio"),
          Ql.r(col("n_chars") * 64 / col("t_chars"), 4).as("chars_ratio"))
        .orderBy("shard")
    },
    Some(s"""
      WITH sh AS (
        SELECT CAST(${Ql.Md5PrefixLong("CAST(doc_id AS VARCHAR)", 4)} % 64 AS INT) AS shard,
               count(*) AS n_docs, sum(n_chars) AS n_chars
        FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS t_docs,
                     CAST(sum(n_chars) AS DOUBLE) AS t_chars FROM sh)
      SELECT shard, n_docs, CAST(n_chars AS BIGINT) AS n_chars,
             ${Ql.R("n_docs * 64 / t_docs", 4)} AS docs_ratio,
             ${Ql.R("n_chars * 64 / t_chars", 4)} AS chars_ratio
      FROM sh, tot ORDER BY shard
    """))

  /** Compaction planning — roll the 64-shard file inventory of each
    * source into target-sized output bins (the small-files problem's
    * standard fix): files ordered by shard id, bin = ⌊prefix-sum-before
    * ÷ target⌋, so each bin closes as soon as the running size crosses
    * the target — the rolling size-based plan every table-maintenance
    * service runs. The prefix sum is one per-source window over the
    * 64-row-per-source inventory (never the data itself); the report is
    * sources × bins. The fill_ratio column is the plan's quality: ~1.0
    * means bins land on target, the final partial bin reads below it.
    */
  private val compactionBins = QueryDef(
    "q_compaction_bins",
    (spark, sfDir) => {
      val target = 200000L
      val files = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("shard",
          (expr(Ql.md5PrefixLong("CAST(doc_id AS STRING)", 4)) % 64).cast("int"))
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("fsize"))
      val w = Window.partitionBy("source").orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("before", coalesce(sum(col("fsize")).over(w), lit(0L)))
        .withColumn("bin", floor(col("before") / target).cast("int"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_files"), sum(col("n_docs")).as("n_docs"),
          sum(col("fsize")).as("chars"))
        .withColumn("fill_ratio", Ql.r(col("chars") / lit(target.toDouble), 4))
        .select(col("source"), col("bin"), col("n_files"), col("n_docs"),
          col("chars"), col("fill_ratio"))
        .orderBy("source", "bin")
    },
    Some(s"""
      WITH files AS (
        SELECT source,
               CAST(${Ql.Md5PrefixLong("CAST(doc_id AS VARCHAR)", 4)} % 64 AS INT) AS shard,
               count(*) AS n_docs, sum(n_chars) AS fsize
        FROM documents GROUP BY 1, 2),
      planned AS (
        SELECT source, shard, n_docs, fsize,
               CAST(floor(coalesce(sum(fsize) OVER (PARTITION BY source ORDER BY shard
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 200000) AS INT) AS bin
        FROM files)
      SELECT source, bin, count(*) AS n_files,
             CAST(sum(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(fsize) AS BIGINT) AS chars,
             ${Ql.R("sum(fsize) / 200000.0", 4)} AS fill_ratio
      FROM planned GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** CDC log application — replay an ordered change stream (upserts +
    * deletes) into a latest-state snapshot, the read path of every
    * log-structured table format. The change log is the orders table
    * keyed by customer, sequenced by (o_orderdate, o_orderkey), with a
    * deterministic md5-bucket ~10% of changes marked DELETE. Apply =
    * one partitioned row_number (last-writer-wins) + the per-key op
    * audit in the same shuffle — no driver loop, no per-key state; at
    * 100 TB this is exactly one hash exchange on the key.
    */
  private val cdcApply = QueryDef(
    "q_cdc_apply",
    (spark, sfDir) => {
      val log = Tables.orders(spark, sfDir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"),
          when(expr(Ql.md5PrefixLong("CAST(o_orderkey AS STRING)", 4)) % 10 === 0,
            "D").otherwise("U").as("op"))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      log.withColumn("rn", row_number().over(w))
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("n_ops"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"),
          first(when(col("rn") === 1, col("op")), ignoreNulls = true).as("last_op"),
          first(when(col("rn") === 1,
            date_format(col("o_orderdate"), "yyyy-MM-dd")), ignoreNulls = true)
            .as("last_date"),
          first(when(col("rn") === 1, col("o_totalprice")), ignoreNulls = true)
            .as("last_val"))
        .filter(col("last_op") === "U")
        .select(col("o_custkey"), col("n_ops"), col("n_deletes"),
          col("last_date"), Ql.r(col("last_val"), 2).as("last_val"))
        .orderBy("o_custkey")
    },
    Some(s"""
      WITH log AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               CASE WHEN ${Ql.Md5PrefixLong("CAST(o_orderkey AS VARCHAR)", 4)} % 10 = 0
                    THEN 'D' ELSE 'U' END AS op
        FROM orders),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM log),
      a AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_ops,
               CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
               any_value(CASE WHEN rn = 1 THEN op END) AS last_op,
               any_value(CASE WHEN rn = 1
                 THEN strftime(o_orderdate, '%Y-%m-%d') END) AS last_date,
               any_value(CASE WHEN rn = 1 THEN o_totalprice END) AS last_val
        FROM r GROUP BY 1)
      SELECT o_custkey, n_ops, n_deletes, last_date,
             ${Ql.R("last_val", 2)} AS last_val
      FROM a WHERE last_op = 'U' ORDER BY o_custkey
    """))

  /** Snapshot diff / CDC *generation* — the inverse of q_cdc_apply:
    * compare two per-customer revenue snapshots (1996 activity vs 2000
    * activity; each year covers ~78% of customers, so added and removed
    * are both non-vacuous) and classify every key as added / removed /
    * up / down (flat is the equality guard class), reporting per-class
    * counts and net revenue drift. One full outer join of two partial
    * aggregates over the same scan; cent-rounding before the compares
    * makes the up/down/flat branch a deterministic double comparison on
    * both engines.
    */
  private val snapshotDiff = QueryDef(
    "q_snapshot_diff",
    (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir)
      def snap(yr: Int) = o.filter(year(col("o_orderdate")) === yr)
        .groupBy("o_custkey")
        .agg(Ql.r(sum(col("o_totalprice")), 2).as(s"r$yr"),
          count(lit(1)).as(s"n$yr"))
      snap(1996).join(snap(2000), Seq("o_custkey"), "full_outer")
        .select(
          when(col("r1996").isNull, "added")
            .when(col("r2000").isNull, "removed")
            .when(col("r2000") > col("r1996"), "up")
            .when(col("r2000") < col("r1996"), "down")
            .otherwise("flat").as("change"),
          coalesce(col("r2000"), lit(0.0)).minus(coalesce(col("r1996"), lit(0.0)))
            .as("delta"),
          coalesce(col("n2000"), lit(0L)).minus(coalesce(col("n1996"), lit(0L)))
            .as("dn"))
        .groupBy("change")
        .agg(count(lit(1)).as("n_keys"),
          Ql.r(sum(col("delta")), 2).as("net_delta"),
          sum(col("dn")).as("net_orders"))
        .orderBy("change")
    },
    Some(s"""
      WITH s96 AS (
        SELECT o_custkey, ${Ql.R("sum(o_totalprice)", 2)} AS r96,
               CAST(count(*) AS BIGINT) AS n96
        FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
      s00 AS (
        SELECT o_custkey, ${Ql.R("sum(o_totalprice)", 2)} AS r00,
               CAST(count(*) AS BIGINT) AS n00
        FROM orders WHERE year(o_orderdate) = 2000 GROUP BY 1),
      d AS (
        SELECT CASE WHEN r96 IS NULL THEN 'added'
                    WHEN r00 IS NULL THEN 'removed'
                    WHEN r00 > r96 THEN 'up'
                    WHEN r00 < r96 THEN 'down'
                    ELSE 'flat' END AS change,
               coalesce(r00, 0.0) - coalesce(r96, 0.0) AS delta,
               coalesce(n00, 0) - coalesce(n96, 0) AS dn
        FROM s96 FULL OUTER JOIN s00 USING (o_custkey))
      SELECT change, count(*) AS n_keys,
             ${Ql.R("sum(delta)", 2)} AS net_delta,
             CAST(sum(dn) AS BIGINT) AS net_orders
      FROM d GROUP BY 1 ORDER BY 1
    """))

  /** ANALYZE-style column profile of lineitem — per-column row count, null
    * count, exact NDV, and min/max, the statistics a cost-based optimizer
    * and a data-quality dashboard both feed on. One aggregation PER
    * COLUMN, each a parquet scan that reads ONLY that column (columnar
    * pruning makes five narrow scans far cheaper than one
    * multi-countDistinct aggregate, whose Expand pushes 5× the full row
    * set through a single shuffle — measured 10.1 s vs ~1.5 s at sf0.1),
    * unioned into one row per column. Numeric min/max report as
    * cent-rounded doubles and date/string min/max as strings — numbers
    * never round-trip through engine-specific double formatting. At
    * 100 TB the exact NDVs swap for approx_count_distinct / the HLL
    * relation of q_agg_hll_merge and the five scans fuse back into one
    * pass (approx NDVs compose in a single agg without Expand).
    */
  private val columnProfile = QueryDef(
    "q_column_profile",
    (spark, sfDir) => {
      val li = Tables.lineitem(spark, sfDir)
      def num(name: String) = li.select(col(name)).agg(
        count(lit(1)).as("n"),
        sum(col(name).isNull.cast("long")).as("n_null"),
        countDistinct(col(name)).as("ndv"),
        Ql.r(min(col(name)), 2).as("min_num"),
        Ql.r(max(col(name)), 2).as("max_num"))
        .select(lit(name).as("col_name"), col("n"), col("n_null"), col("ndv"),
          col("min_num"), col("max_num"),
          lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str"))
      def str(name: String) = li.select(col(name)).agg(
        count(lit(1)).as("n"),
        sum(col(name).isNull.cast("long")).as("n_null"),
        countDistinct(col(name)).as("ndv"),
        min(col(name)).as("min_str"),
        max(col(name)).as("max_str"))
        .select(lit(name).as("col_name"), col("n"), col("n_null"), col("ndv"),
          lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
          col("min_str"), col("max_str"))
      def dt(name: String) = li.select(col(name)).agg(
        count(lit(1)).as("n"),
        sum(col(name).isNull.cast("long")).as("n_null"),
        countDistinct(col(name)).as("ndv"),
        date_format(min(col(name)), "yyyy-MM-dd").as("min_str"),
        date_format(max(col(name)), "yyyy-MM-dd").as("max_str"))
        .select(lit(name).as("col_name"), col("n"), col("n_null"), col("ndv"),
          lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
          col("min_str"), col("max_str"))
      num("l_quantity")
        .unionByName(num("l_extendedprice"))
        .unionByName(str("l_returnflag"))
        .unionByName(str("l_linestatus"))
        .unionByName(dt("l_shipdate"))
        .orderBy("col_name")
    },
    Some(s"""
      WITH a AS (
        SELECT count(*) AS n,
               CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty,
               count(DISTINCT l_quantity) AS ndv_qty,
               ${Ql.R("min(l_quantity)", 2)} AS min_qty,
               ${Ql.R("max(l_quantity)", 2)} AS max_qty,
               CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price,
               count(DISTINCT l_extendedprice) AS ndv_price,
               ${Ql.R("min(l_extendedprice)", 2)} AS min_price,
               ${Ql.R("max(l_extendedprice)", 2)} AS max_price,
               CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_rf,
               count(DISTINCT l_returnflag) AS ndv_rf,
               min(l_returnflag) AS min_rf,
               max(l_returnflag) AS max_rf,
               CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ls,
               count(DISTINCT l_linestatus) AS ndv_ls,
               min(l_linestatus) AS min_ls,
               max(l_linestatus) AS max_ls,
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_sd,
               count(DISTINCT l_shipdate) AS ndv_sd,
               strftime(min(l_shipdate), '%Y-%m-%d') AS min_sd,
               strftime(max(l_shipdate), '%Y-%m-%d') AS max_sd
        FROM lineitem)
      SELECT col_name, n, n_null, ndv, min_num, max_num, min_str, max_str
      FROM (
        SELECT 'l_quantity' AS col_name, n, null_qty AS n_null, ndv_qty AS ndv,
               min_qty AS min_num, max_qty AS max_num,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a
        UNION ALL
        SELECT 'l_extendedprice', n, null_price, ndv_price, min_price, max_price,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a
        UNION ALL
        SELECT 'l_returnflag', n, null_rf, ndv_rf,
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_rf, max_rf FROM a
        UNION ALL
        SELECT 'l_linestatus', n, null_ls, ndv_ls,
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_ls, max_ls FROM a
        UNION ALL
        SELECT 'l_shipdate', n, null_sd, ndv_sd,
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_sd, max_sd FROM a)
      ORDER BY col_name
    """))

  /** Zone-map (min/max file-skipping) effectiveness audit — the
    * quantified WHY behind clustered layouts: shard lineitem 64 ways
    * under two layouts (hash of the order key vs equi-width ranges of
    * the ship date), build each shard's l_shipdate zone map, and measure
    * how many shards a one-month predicate can skip. The hash layout's
    * zone maps all span the full date range (every shard scanned); the
    * clustered layout's are disjoint ranges (~98% skipped) — exactly the
    * data-skipping delta a lakehouse gets from clustering on the filter
    * column, stated as numbers instead of folklore. One scan (the
    * layout axis rides an explode), one keyed zone-map aggregation,
    * predicate arithmetic on a 128-row table; date bounds broadcast as
    * a 1-row aggregate for the range-shard formula.
    */
  private val zoneMapAudit = QueryDef(
    "q_zone_map_audit",
    (spark, sfDir) => {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("day"))
      val b = li.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val zones = li.crossJoin(broadcast(b))
        .withColumn("layout", explode(array(lit("clustered"), lit("hash"))))
        .withColumn("shard",
          when(col("layout") === "hash",
            expr(s"${Ql.md5PrefixLong("CAST(l_orderkey AS STRING)", 4)} % 64"))
            .otherwise(
              least(lit(63L), floor(datediff(col("day"), col("lo")) * lit(64)
                / (datediff(col("hi"), col("lo")) + lit(1))).cast("long"))))
        .groupBy("layout", "shard")
        .agg(count(lit(1)).as("n_rows"),
          min(col("day")).as("min_day"), max(col("day")).as("max_day"))
      zones
        .withColumn("scanned",
          (!(col("max_day") < lit("1998-03-01").cast("date") ||
             col("min_day") > lit("1998-03-31").cast("date"))).cast("long"))
        .groupBy("layout")
        .agg(
          count(lit(1)).as("n_shards"),
          sum(col("scanned")).as("n_scanned"),
          sum(col("n_rows")).as("rows_total"),
          sum(col("scanned") * col("n_rows")).as("rows_scanned"))
        .withColumn("frac_pruned",
          Ql.r(lit(1.0) - col("n_scanned").cast("double") / col("n_shards"), 4))
        .orderBy("layout")
    },
    Some(s"""
      WITH li AS (
        SELECT l_orderkey, CAST(l_shipdate AS DATE) AS day FROM lineitem),
      b AS (SELECT min(day) AS lo, max(day) AS hi FROM li),
      tagged AS (
        SELECT layout, day,
               CASE WHEN layout = 'hash'
                 THEN ${Ql.Md5PrefixLong("CAST(l_orderkey AS VARCHAR)", 4)} % 64
                 ELSE least(63, CAST(floor(datediff('day', lo, day) * 64.0
                   / (datediff('day', lo, hi) + 1)) AS BIGINT))
               END AS shard
        FROM li, b, (SELECT unnest(['clustered', 'hash']) AS layout)),
      zones AS (
        SELECT layout, shard, count(*) AS n_rows,
               min(day) AS min_day, max(day) AS max_day
        FROM tagged GROUP BY 1, 2),
      flags AS (
        SELECT layout, n_rows,
               CASE WHEN max_day < DATE '1998-03-01'
                 OR min_day > DATE '1998-03-31' THEN 0 ELSE 1 END AS scanned
        FROM zones)
      SELECT layout, count(*) AS n_shards,
             CAST(sum(scanned) AS BIGINT) AS n_scanned,
             CAST(sum(n_rows) AS BIGINT) AS rows_total,
             CAST(sum(scanned * n_rows) AS BIGINT) AS rows_scanned,
             ${Ql.R("1.0 - CAST(sum(scanned) AS DOUBLE) / count(*)", 4)} AS frac_pruned
      FROM flags GROUP BY 1 ORDER BY 1
    """))

  /** Join-size estimation audit — predict the self-join blowup
    * Σₖ c(k)² of `lineitem ⋈ lineitem ON l_partkey` from a heavy-hitter
    * summary BEFORE paying the shuffle: exact c² mass for the top-100
    * keys plus a uniform-tail assumption (tail_rows²/tail_keys) for the
    * rest — the classic optimizer cardinality model (exact heavy
    * hitters + uniform tail). The audit also computes the true Σc²
    * (one aggregation, never the join itself) so the estimator's signed
    * error is part of the output; in production only the top-k summary
    * (a CMS/TakeOrdered pass) would run. Top-100 selection ties at the
    * boundary are harmless by construction — tied keys contribute the
    * same c and c², so the estimate is tie-invariant. The tail
    * denominator is floored at 1 key so the formula survives
    * fewer-than-100-key inputs.
    */
  private val joinSizeEst = QueryDef(
    "q_join_size_est",
    (spark, sfDir) => {
      val c = Tables.lineitem(spark, sfDir)
        .groupBy("l_partkey").agg(count(lit(1)).as("c"))
      val tot = c.agg(
        sum("c").as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(col("c") * col("c")).as("true_pairs"))
      val top = c.orderBy(col("c").desc, col("l_partkey")).limit(100)
        .agg(sum(col("c") * col("c")).as("top_sq"), sum("c").as("top_rows"))
      tot.crossJoin(broadcast(top))
        .withColumn("est_pairs_raw",
          col("top_sq") + ((col("n_rows") - col("top_rows")).cast("double")
            * (col("n_rows") - col("top_rows")))
            / greatest(col("n_keys") - 100, lit(1L)))
        .select(
          col("n_rows"), col("n_keys"), col("true_pairs"),
          Ql.r(col("est_pairs_raw"), 2).as("est_pairs"),
          Ql.r(lit(100.0) * (col("est_pairs_raw") - col("true_pairs"))
            / col("true_pairs"), 4).as("rel_err_pct"))
    },
    Some(s"""
      WITH c AS (
        SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                     CAST(count(*) AS BIGINT) AS n_keys,
                     CAST(sum(c * c) AS BIGINT) AS true_pairs
              FROM c),
      top AS (SELECT c FROM c ORDER BY c DESC, k LIMIT 100),
      ts AS (SELECT CAST(sum(c * c) AS BIGINT) AS top_sq,
                    CAST(sum(c) AS BIGINT) AS top_rows
             FROM top),
      e AS (
        SELECT n_rows, n_keys, true_pairs,
               top_sq + (CAST(n_rows - top_rows AS DOUBLE) * (n_rows - top_rows))
                 / greatest(n_keys - 100, 1) AS est_pairs_raw
        FROM tot CROSS JOIN ts)
      SELECT n_rows, n_keys, true_pairs,
             ${Ql.R("est_pairs_raw", 2)} AS est_pairs,
             ${Ql.R("100.0 * (est_pairs_raw - true_pairs) / true_pairs", 4)} AS rel_err_pct
      FROM e
    """))

  /** Bitmap-index build + algebra: the per-event-type user bitmap as a
    * (type, word)→mask RELATION — 63 users per BIGINT word (bit =
    * user mod 63 keeps every shift below the sign bit, sidestepping
    * cross-engine 1<<63 semantics), masks folded with bit_or — then
    * pairwise type co-activity answered ENTIRELY in bitmap algebra:
    * popcount(maskA AND maskB) summed over words. This is the segment
    * bitmap-index pattern (Roaring's dense-container idea as a
    * relation): the index is corpus-rows → |types|·(users/63) words,
    * and intersection queries never touch the fact table again. The
    * DuckDB oracle deliberately does NOT mirror the bitmaps — it
    * computes the same counts by plain distinct-set arithmetic, so the
    * hash match cross-validates the bitmap algebra against an
    * independent definition (the q_kcore brute-force philosophy).
    */
  private val bitmapIndex = QueryDef(
    "q_bitmap_index",
    (spark, sfDir) => {
      val masks = Tables.events(spark, sfDir)
        .selectExpr("event_type", "user_id div 63 AS word",
          "CAST(user_id % 63 AS INT) AS b")
        .groupBy("event_type", "word")
        .agg(expr("bit_or(shiftleft(1L, b))").as("mask"))
        .checkpointed // the index relation — built once, queried twice
      val sizes = masks.groupBy("event_type")
        .agg(sum(expr("bit_count(mask)")).cast("long").as("nu"))
      val both = masks.as("a")
        .join(masks.as("b"),
          col("a.word") === col("b.word") && col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
        .agg(sum(expr("bit_count(a.mask & b.mask)")).cast("long").as("n_both"))
      sizes.as("sa").join(broadcast(sizes.as("sb")),
          col("sa.event_type") < col("sb.event_type"))
        .select(col("sa.event_type").as("type_a"), col("sa.nu").as("users_a"),
          col("sb.event_type").as("type_b"), col("sb.nu").as("users_b"))
        .join(both, Seq("type_a", "type_b"), "left")
        .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
        .selectExpr("type_a", "type_b", "users_a", "users_b", "n_both",
          s"${Ql.R("CAST(n_both AS DOUBLE) / (users_a + users_b - n_both)", 4)} AS jaccard")
        .orderBy("type_a", "type_b")
    },
    Some(s"""
      WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
      sizes AS (SELECT event_type, count(*) AS nu FROM tu GROUP BY 1),
      inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
      SELECT sa.event_type AS type_a, sb.event_type AS type_b,
             CAST(sa.nu AS BIGINT) AS users_a, CAST(sb.nu AS BIGINT) AS users_b,
             CAST(COALESCE(n_both, 0) AS BIGINT) AS n_both,
             ${Ql.R("CAST(COALESCE(n_both, 0) AS DOUBLE) / (sa.nu + sb.nu - COALESCE(n_both, 0))", 4)} AS jaccard
      FROM sizes sa JOIN sizes sb ON sa.event_type < sb.event_type
      LEFT JOIN inter ON inter.type_a = sa.event_type AND inter.type_b = sb.event_type
      ORDER BY 1, 2
    """))

  override def defs: Seq[QueryDef] =
    Seq(skyline, histogram2d, zorderLayout, equidepthBins, kAnonymity,
      shardSkew, compactionBins, cdcApply, snapshotDiff, columnProfile,
      zoneMapAudit, joinSizeEst, bitmapIndex)
}
