package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Feature-engineering and approximate-query-processing operators — the
  * table-to-model-input side of a training pipeline (SURVEY.md §2.I
  * extension surface: a curation engine that feeds model training also
  * prepares tabular features and answers "is this sample big enough"
  * questions without full scans). Arithmetic discipline per the QueryDef
  * determinism contract: every per-row decision that feeds a COUNT is
  * integer cross-multiplication (no float compare can diverge the
  * engines), money sums run in exact BIGINT cents, and the few genuinely
  * real-valued outputs (entropies, distortion ratios) are rounded with
  * [[Ql.r]] after order-insensitive-enough small sums.
  */
object FeatureQueries extends QueryModule {

  // ---------------------------------------------------------------- target encoding

  /** Leave-one-out target encoding of `o_orderpriority` against the
    * binary label `o_totalprice > 250000` with additive smoothing m=10
    * toward the global prior. The LOO comparison "is this row's encoding
    * above the prior?" is decided in exact 64-bit integers:
    * (H−yᵢ+m·Hg/N)/(n−1+m) > Hg/N  ⟺  N·(H−yᵢ) > (n−1)·Hg — so the
    * count cannot drift between engines. Scale shape: one groupBy over
    * the category column (5 keys), the per-row pass joins the 5-row
    * stats frame and the 1-row global frame by broadcast — a single
    * shuffle-free map stage over the fact table plus the final 5-key
    * aggregation; at 100 TB the category stats stay a broadcast and the
    * encode remains one pass.
    */
  private val targetEncode = QueryDef(
    "q_target_encode",
    (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir)
        .select(col("o_orderpriority").as("cat"),
          when(col("o_totalprice") > 250000.0, 1L).otherwise(0L).as("y"))
      val catStats = o.groupBy("cat")
        .agg(count(lit(1)).as("n"), sum("y").as("h"))
      val global = o.agg(count(lit(1)).as("n_tot"), sum("y").as("h_tot"))
      o.join(broadcast(catStats), "cat")
        .crossJoin(broadcast(global))
        .groupBy("cat")
        .agg(
          max("n").as("n"),
          max("h").as("n_high"),
          Ql.r((max(col("h")).cast("double")
              + lit(10.0) * max(col("h_tot")) / max(col("n_tot")))
            / (max(col("n")) + lit(10.0)), 6).as("enc_smoothed"),
          sum(when(col("n_tot") * (col("h") - col("y"))
            > (col("n") - lit(1L)) * col("h_tot"), 1L).otherwise(0L))
            .as("n_loo_above_prior"))
        .orderBy("cat")
    },
    Some(s"""
      WITH o AS (
        SELECT o_orderpriority AS cat,
               CASE WHEN o_totalprice > 250000.0 THEN 1 ELSE 0 END AS y
        FROM orders),
      g AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
                   CAST(sum(y) AS BIGINT) AS h_tot FROM o),
      c AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS h FROM o GROUP BY 1)
      SELECT o.cat,
             max(c.n) AS n,
             max(c.h) AS n_high,
             ${Ql.R("(CAST(max(c.h) AS DOUBLE) + 10.0 * max(g.h_tot) / max(g.n_tot)) / (max(c.n) + 10.0)", 6)} AS enc_smoothed,
             CAST(sum(CASE WHEN g.n_tot * (c.h - o.y) > (c.n - 1) * g.h_tot
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_loo_above_prior
      FROM o JOIN c ON o.cat = c.cat CROSS JOIN g
      GROUP BY o.cat ORDER BY o.cat
    """))

  // ---------------------------------------------------------------- Neyman allocation

  /** Neyman-optimal stratified sample allocation over the
    * (l_returnflag, l_linestatus) strata: nₕ = B·NₕSₕ/ΣNⱼSⱼ for budget
    * B=1000. One aggregation computes all strata moments (count +
    * stddev_samp share a shuffle); the Σ normalizer is a 1-row broadcast,
    * never a collect. The allocation is rounded to an integer AFTER the
    * ratio — low-order stddev bits (Welford merge order differs across
    * engines) sit ~9 decimal digits below the rounding boundary.
    */
  private val neymanAlloc = QueryDef(
    "q_neyman_alloc",
    (spark, sfDir) => {
      val strata = Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_h"),
          stddev_samp(col("l_extendedprice")).as("s_h"))
      val norm = strata.agg(sum(col("n_h") * col("s_h")).as("w_tot"))
      strata.crossJoin(broadcast(norm))
        .select(
          col("l_returnflag"), col("l_linestatus"), col("n_h"),
          Ql.r(col("s_h"), 2).as("s_h"),
          Ql.r(lit(1000.0) * col("n_h") * col("s_h") / col("w_tot"), 0)
            .cast("long").as("alloc_n"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""
      WITH s AS (
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_h,
               stddev_samp(l_extendedprice) AS s_h
        FROM lineitem GROUP BY 1, 2),
      t AS (SELECT sum(n_h * s_h) AS w_tot FROM s)
      SELECT l_returnflag, l_linestatus, n_h,
             ${Ql.R("s_h", 2)} AS s_h,
             CAST(${Ql.R("1000.0 * n_h * s_h / t.w_tot", 0)} AS BIGINT) AS alloc_n
      FROM s CROSS JOIN t
      ORDER BY l_returnflag, l_linestatus
    """))

  // ---------------------------------------------------------------- AQP sampled sum

  /** Approximate-query-processing audit: estimate sum(l_extendedprice)
    * from a deterministic 1/16 Bernoulli hash-sample (md5 of the
    * (orderkey, linenumber) primary key — the same row is sampled in
    * both engines, so the estimate itself is oracle-checkable, unlike
    * rand()-based samples) and report the estimate, the true total, the
    * signed relative error, and the 95% CI half-width from the
    * Horvitz–Thompson variance V̂ = ((1−p)/p²)·Σ_s xᵢ². Money runs in
    * exact BIGINT cents end-to-end; only the variance (already a
    * statistical estimate) uses float sums. At 100 TB the sample is a
    * pushed-down hash predicate — the full-scan `true` column exists
    * only for this audit and would be dropped in production use.
    */
  private val aqpSumCi = QueryDef(
    "q_aqp_sum_ci",
    (spark, sfDir) => {
      val li = Tables.lineitem(spark, sfDir)
        .select(
          Ql.r(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          (expr(Ql.md5PrefixLong("concat(l_orderkey, '-', l_linenumber)", 4))
            % 16 === 0).cast("long").as("in_sample"))
      li.agg(
          count(lit(1)).as("n_total"),
          sum("in_sample").as("n_sample"),
          sum("cents").as("true_cents"),
          sum(col("in_sample") * col("cents")).as("samp_cents"),
          sum(col("in_sample").cast("double")
            * (col("cents") / 100.0) * (col("cents") / 100.0)).as("ssq"))
        .select(
          col("n_total"), col("n_sample"),
          Ql.r(col("true_cents") / 100.0, 2).as("true_total"),
          Ql.r(col("samp_cents") * 16 / 100.0, 2).as("est_total"),
          Ql.r(lit(100.0) * (col("samp_cents") * 16 - col("true_cents"))
            / col("true_cents"), 4).as("rel_err_pct"),
          Ql.r(lit(1.96) * sqrt(lit(240.0) * col("ssq")), 0).as("ci_halfwidth"))
    },
    Some(s"""
      WITH li AS (
        SELECT CAST(${Ql.R("l_extendedprice * 100", 0)} AS BIGINT) AS cents,
               CASE WHEN (${Ql.Md5PrefixLong("CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)", 4)}) % 16 = 0
                    THEN 1 ELSE 0 END AS in_sample
        FROM lineitem),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(in_sample) AS BIGINT) AS n_sample,
               CAST(sum(cents) AS BIGINT) AS true_cents,
               CAST(sum(in_sample * cents) AS BIGINT) AS samp_cents,
               sum(CAST(in_sample AS DOUBLE) * (cents / 100.0) * (cents / 100.0)) AS ssq
        FROM li)
      SELECT n_total, n_sample,
             ${Ql.R("true_cents / 100.0", 2)} AS true_total,
             ${Ql.R("samp_cents * 16 / 100.0", 2)} AS est_total,
             ${Ql.R("100.0 * (samp_cents * 16 - true_cents) / true_cents", 4)} AS rel_err_pct,
             ${Ql.R("1.96 * sqrt(240.0 * ssq)", 0)} AS ci_halfwidth
      FROM a
    """))

  // ---------------------------------------------------------------- l-diversity

  /** l-diversity audit (Machanavajjhala et al. 2006 — the sibling of the
    * existing q_k_anonymity): quasi-identifier groups are
    * (c_nationkey, c_mktsegment), the sensitive attribute is the
    * account-balance band floor(c_acctbal/1000). Reports, per distinct-
    * sensitive-count l, how many QI groups achieve exactly that l and
    * the smallest group among them — the "which cohorts leak" histogram
    * a release gate reads. Two keyed aggregations, both on low-
    * cardinality composites; nothing grows with the corpus but the
    * first groupBy, which partial-aggregates map-side.
    */
  private val lDiversity = QueryDef(
    "q_l_diversity",
    (spark, sfDir) =>
      Tables.customer(spark, sfDir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("grp_n"),
          countDistinct(col("band")).as("l"))
        .groupBy("l")
        .agg(count(lit(1)).as("n_groups"), min("grp_n").as("min_group_size"))
        .orderBy("l"),
    Some("""
      WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(count(*) AS BIGINT) AS grp_n,
               CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
                 AS BIGINT) AS l
        FROM customer GROUP BY 1, 2)
      SELECT l, count(*) AS n_groups, min(grp_n) AS min_group_size
      FROM g GROUP BY l ORDER BY l
    """))

  // ---------------------------------------------------------------- mutual information

  /** Mutual information (and normalized MI) between the `lang` and
    * `source` columns of the document corpus — the feature-selection
    * measure that tells a curator whether source routing already implies
    * language (MI ≈ min-entropy) or adds signal (MI ≈ 0). All mass
    * ratios come from exact BIGINT counts; the ~|langs|·|sources| cell
    * table is tiny at any corpus size, so the ln-sum is a reduction over
    * a bounded frame. NMI = MI / min(H_lang, H_source).
    */
  private val mutualInfo = QueryDef(
    "q_mutual_info",
    (spark, sfDir) => {
      val d = Tables.documents(spark, sfDir).select("lang", "source")
      val cells = d.groupBy("lang", "source").agg(count(lit(1)).as("c_xy"))
      val byLang = d.groupBy("lang").agg(count(lit(1)).as("c_x"))
      val bySrc = d.groupBy("source").agg(count(lit(1)).as("c_y"))
      val tot = d.agg(count(lit(1)).as("n"))
      val mi = cells.join(broadcast(byLang), "lang")
        .join(broadcast(bySrc), "source")
        .crossJoin(broadcast(tot))
        .agg(
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_cells"),
          // products in DOUBLE, not LONG×LONG: c_xy·n (and c_x·c_y for a
          // dominant cell) pass 2^63 near ~3e9 docs, where Spark's
          // non-ANSI long multiply wraps silently while the oracle's
          // double stays finite — the q_kappa_agreement overflow class
          sum((col("c_xy") / col("n"))
            * log(col("c_xy") * col("n").cast("double")
              / (col("c_x") * col("c_y").cast("double"))))
            .as("mi_raw"))
      val hl = byLang.crossJoin(broadcast(tot))
        .agg(sum(-(col("c_x") / col("n")) * log(col("c_x") / col("n"))).as("h_lang"))
      val hs = bySrc.crossJoin(broadcast(tot))
        .agg(sum(-(col("c_y") / col("n")) * log(col("c_y") / col("n"))).as("h_src"))
      mi.crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
        .select(
          col("n_langs"), col("n_sources"), col("n_cells"),
          Ql.r(col("mi_raw"), 6).as("mi_nats"),
          Ql.r(col("mi_raw") / least(col("h_lang"), col("h_src")), 6).as("nmi"))
    },
    Some(s"""
      WITH d AS (SELECT lang, source FROM documents),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      cx AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_x FROM d GROUP BY 1),
      cy AS (SELECT source, CAST(count(*) AS BIGINT) AS c_y FROM d GROUP BY 1),
      cxy AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c_xy
              FROM d GROUP BY 1, 2),
      mi AS (
        SELECT CAST(count(DISTINCT cxy.lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT cxy.source) AS BIGINT) AS n_sources,
               CAST(count(*) AS BIGINT) AS n_cells,
               sum((c_xy / CAST(n AS DOUBLE))
                 * ln(c_xy * CAST(n AS DOUBLE) / (c_x * CAST(c_y AS DOUBLE)))) AS mi_raw
        FROM cxy JOIN cx ON cxy.lang = cx.lang
                 JOIN cy ON cxy.source = cy.source
                 CROSS JOIN t),
      hl AS (SELECT sum(-(c_x / CAST(n AS DOUBLE)) * ln(c_x / CAST(n AS DOUBLE))) AS h_lang
             FROM cx CROSS JOIN t),
      hs AS (SELECT sum(-(c_y / CAST(n AS DOUBLE)) * ln(c_y / CAST(n AS DOUBLE))) AS h_src
             FROM cy CROSS JOIN t)
      SELECT n_langs, n_sources, n_cells,
             ${Ql.R("mi_raw", 6)} AS mi_nats,
             ${Ql.R("mi_raw / least(h_lang, h_src)", 6)} AS nmi
      FROM mi CROSS JOIN hl CROSS JOIN hs
    """))

  // ---------------------------------------------------------------- JL projection audit

  /** Johnson–Lindenstrauss ±1 random-projection distortion audit:
    * project the 64-dim embeddings to k=8 dims with a FIXED sign matrix
    * (derived from md5("d:j") parity at codegen time, so both engines
    * see the same ±1 literals — no runtime hashing), then measure
    * ‖Rx−Ry‖²/(k·‖x−y‖²) over consecutive-id pairs; E[·]=1 under JL.
    * Both engines evaluate the identical left-associated 64-term
    * arithmetic chain, so per-pair distortions are bit-equal and
    * min/max need no tolerance. Scale shape: the projection is per-row
    * codegen arithmetic (no shuffle — this is the transform you'd run
    * before LSH banding at 100 TB); the pair join is a narrow equi-join
    * on vec_id.
    */
  private def jlSign(d: Int, j: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d:$j".getBytes("UTF-8"))
    if (((md(0) >> 4) & 0xf) % 2 == 0) 1 else -1
  }

  private val jlDims = 64
  private val jlK = 8

  /** Signed 64-term sum `±e[1] ±e[2] …` for projection row j, with
    * `acc(d)` supplying the dialect's element accessor (1-based).
    */
  private def jlProjExpr(j: Int, acc: Int => String): String =
    (1 to jlDims).map { d =>
      val t = s"CAST(${acc(d)} AS DOUBLE)"
      if (jlSign(d, j) > 0) s"+ $t" else s"- $t"
    }.mkString("(0.0 ", " ", ")")

  private def sqDistExpr(dims: Int, a: Int => String, b: Int => String): String =
    (1 to dims).map { d =>
      s"+ (CAST(${a(d)} AS DOUBLE) - CAST(${b(d)} AS DOUBLE)) * (CAST(${a(d)} AS DOUBLE) - CAST(${b(d)} AS DOUBLE))"
    }.mkString("(0.0 ", " ", ")")

  private val jlProjection = QueryDef(
    "q_jl_projection",
    (spark, sfDir) => {
      val projCols = (1 to jlK).map(j =>
        expr(jlProjExpr(j, d => s"element_at(embedding, $d)")).as(s"p$j"))
      val e = Tables.embeddings(spark, sfDir)
        .select((col("vec_id") +: col("embedding") +: projCols): _*)
      val a = e.toDF(e.columns.map("a_" + _): _*)
      val b = e.toDF(e.columns.map("b_" + _): _*)
      val projDist = (1 to jlK).map(j =>
        s"+ (a_p$j - b_p$j) * (a_p$j - b_p$j)").mkString("(0.0 ", " ", ")")
      val origDist = sqDistExpr(jlDims,
        d => s"element_at(a_embedding, $d)", d => s"element_at(b_embedding, $d)")
      a.filter(col("a_vec_id") % 2 === 0)
        .join(b, col("a_vec_id") + 1 === col("b_vec_id"))
        .select((expr(projDist) / (lit(jlK.toDouble) * expr(origDist)))
          .as("distortion"))
        .agg(
          count(lit(1)).as("n_pairs"),
          Ql.r(avg("distortion"), 4).as("avg_distortion"),
          Ql.r(min("distortion"), 4).as("min_distortion"),
          Ql.r(max("distortion"), 4).as("max_distortion"))
    },
    Some {
      val projSelects = (1 to jlK)
        .map(j => s"${jlProjExpr(j, d => s"embedding[$d]")} AS p$j")
        .mkString(", ")
      val projDist = (1 to jlK).map(j =>
        s"+ (a.p$j - b.p$j) * (a.p$j - b.p$j)").mkString("(0.0 ", " ", ")")
      val origDist = sqDistExpr(jlDims,
        d => s"a.embedding[$d]", d => s"b.embedding[$d]")
      s"""
      WITH e AS (SELECT vec_id, embedding, $projSelects FROM embeddings),
      pairs AS (
        SELECT ($projDist) / (${jlK}.0 * ($origDist)) AS distortion
        FROM e a JOIN e b ON a.vec_id + 1 = b.vec_id
        WHERE a.vec_id % 2 = 0)
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             ${Ql.R("avg(distortion)", 4)} AS avg_distortion,
             ${Ql.R("min(distortion)", 4)} AS min_distortion,
             ${Ql.R("max(distortion)", 4)} AS max_distortion
      FROM pairs
      """
    })

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007 — completes
    * the k-anonymity / l-diversity release-gate triad): per
    * quasi-identifier group, the earth-mover's distance between the
    * group's sensitive-attribute distribution and the global one. For
    * an ORDERED sensitive attribute (the acctbal band) EMD collapses to
    * the ordered-distance closed form (1/(m−1))·Σ|running CDF gap|, so
    * the whole audit is: one (QI, band) count, the global band
    * histogram as a BANDS-sized broadcast, cumulative sums over the
    * dense QI×band grid (windows partitioned BY GROUP — never global),
    * and a per-group aggregate. The cumulative counts are exact
    * integers; the |cum_g·N − cum_all·n_g| cross-products are evaluated
    * in doubles via shared formula text (identical in both engines;
    * exact as long as n_g·N stays under 2^53 — a per-group × corpus
    * product, so fine to ~10⁸ customers per QI group at 10⁸ rows).
    * Reports the worst 10 groups by EMD, largest first.
    */
  private val tCloseness: QueryDef = {
    // |cum_g/n_g - cum_all/N| summed over bands, / (m-1); exact integers
    // until the divide: |cum_g*N - cum_all*n_g| / (n_g*N)
    QueryDef(
      "q_t_closeness",
      (spark, sfDir) => {
        import org.apache.spark.sql.expressions.Window
        val c = Tables.customer(spark, sfDir)
          .select(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 2000.0).cast("long").as("band"))
        val bands = c.select("band").distinct()
        val global = c.groupBy("band").agg(count(lit(1)).as("gb"))
        val groups = c.groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("n_g"))
        // dense grid: every group x every band (bands bounded by the
        // balance domain, groups by the QI vocabulary)
        val cells = c.groupBy("c_nationkey", "c_mktsegment", "band")
          .agg(count(lit(1)).as("cb"))
        val grid = groups.crossJoin(broadcast(bands))
          .join(cells, Seq("c_nationkey", "c_mktsegment", "band"), "left")
          .na.fill(0L, Seq("cb"))
          .join(broadcast(global), "band")
        val wg = Window.partitionBy("c_nationkey", "c_mktsegment")
          .orderBy("band").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val nAll = c.agg(count(lit(1)).as("nn"), countDistinct("band").as("m"))
        grid
          .withColumn("cum_g", sum("cb").over(wg))
          .withColumn("cum_all", sum("gb").over(wg))
          .crossJoin(broadcast(nAll))
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(max("n_g").as("n_g"),
            Ql.r(expr(
              "sum(abs(CAST(cum_g AS DOUBLE) * nn - CAST(cum_all AS DOUBLE) * n_g)) / (max(n_g) * CAST(max(nn) AS DOUBLE) * (max(m) - 1))"),
              6).as("emd"))
          .orderBy(col("emd").desc, col("c_nationkey"), col("c_mktsegment"))
          .limit(10)
      },
      Some(s"""
        WITH c AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band
          FROM customer),
        bands AS (SELECT DISTINCT band FROM c),
        global AS (SELECT band, CAST(count(*) AS BIGINT) AS gb FROM c GROUP BY 1),
        groups AS (
          SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_g
          FROM c GROUP BY 1, 2),
        cells AS (
          SELECT c_nationkey, c_mktsegment, band, CAST(count(*) AS BIGINT) AS cb
          FROM c GROUP BY 1, 2, 3),
        nall AS (SELECT CAST(count(*) AS BIGINT) AS nn,
                        CAST(count(DISTINCT band) AS BIGINT) AS m FROM c),
        grid AS (
          SELECT g.c_nationkey, g.c_mktsegment, g.n_g, b.band,
                 COALESCE(cells.cb, 0) AS cb, global.gb
          FROM groups g CROSS JOIN bands b
            LEFT JOIN cells ON cells.c_nationkey = g.c_nationkey
              AND cells.c_mktsegment = g.c_mktsegment AND cells.band = b.band
            JOIN global ON global.band = b.band),
        cum AS (
          SELECT c_nationkey, c_mktsegment, n_g,
                 sum(cb) OVER (PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_g,
                 sum(gb) OVER (PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_all
          FROM grid)
        SELECT c_nationkey, c_mktsegment, max(n_g) AS n_g,
               ${Ql.R("sum(abs(CAST(cum_g AS DOUBLE) * nn - CAST(cum_all AS DOUBLE) * n_g)) / (max(n_g) * CAST(max(nn) AS DOUBLE) * (max(m) - 1))", 6)} AS emd
        FROM cum CROSS JOIN nall
        GROUP BY c_nationkey, c_mktsegment
        ORDER BY emd DESC, c_nationkey, c_mktsegment
        LIMIT 10
      """))
  }

  /** Universe-sampled JOIN estimation (the AQP trick plain Bernoulli
    * sampling gets WRONG on joins): sample the JOIN KEY universe — keep
    * a customer iff their key hashes into 16 of 256 buckets (p = 1/16)
    * — so both join sides keep exactly the same keys and every
    * surviving key's join output is complete; the estimator is a single
    * ×16 scale-up. Independent per-side Bernoulli at the same budget
    * would keep only p² of join rows and square the variance. Exact
    * BIGINT cent sums end-to-end; the truth and the signed relative
    * error ride along per segment, so the estimator is measured, not
    * asserted.
    */
  private val aqpJoinUniverse = QueryDef(
    "q_aqp_join_universe",
    (spark, sfDir) => {
      val cust = Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_custkey"),
          Ql.r(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val joined = orders.join(broadcast(cust),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("c_custkey"), col("cents"))
        .checkpointed // feeds the truth AND the sampled estimate
      val truth = joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_true"), sum("cents").as("s_true"))
      val est = joined
        .filter(expr(s"${Ql.md5PrefixLong("CAST(c_custkey AS STRING)", 4)} % 256 < 16"))
        .groupBy("c_mktsegment")
        .agg((count(lit(1)) * 16).as("n_est"), (sum("cents") * 16).as("s_est"))
      truth.join(est, Seq("c_mktsegment"), "left")
        .selectExpr("c_mktsegment", "n_true",
          "coalesce(n_est, 0L) AS n_est",
          s"${Ql.R("s_true / 100.0", 2)} AS revenue_true",
          s"${Ql.R("coalesce(s_est, 0L) / 100.0", 2)} AS revenue_est",
          s"${Ql.R("100.0 * (coalesce(s_est, 0L) - s_true) / s_true", 4)} AS rel_err_pct")
        .orderBy("c_mktsegment")
    },
    Some(s"""
      WITH j AS (
        SELECT c_mktsegment, c_custkey,
               CAST(${Ql.R("o_totalprice * 100", 0)} AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey),
      truth AS (
        SELECT c_mktsegment, count(*) AS n_true,
               CAST(sum(cents) AS BIGINT) AS s_true
        FROM j GROUP BY 1),
      est AS (
        SELECT c_mktsegment, CAST(count(*) * 16 AS BIGINT) AS n_est,
               CAST(sum(cents) * 16 AS BIGINT) AS s_est
        FROM j
        WHERE ${Ql.Md5PrefixLong("CAST(c_custkey AS VARCHAR)", 4)} % 256 < 16
        GROUP BY 1)
      SELECT c_mktsegment, n_true,
             COALESCE(n_est, 0) AS n_est,
             ${Ql.R("s_true / 100.0", 2)} AS revenue_true,
             ${Ql.R("COALESCE(s_est, 0) / 100.0", 2)} AS revenue_est,
             ${Ql.R("100.0 * (COALESCE(s_est, 0) - s_true) / s_true", 4)} AS rel_err_pct
      FROM truth LEFT JOIN est USING (c_mktsegment)
      ORDER BY 1
    """))

  override def defs: Seq[QueryDef] = Seq(
    targetEncode, neymanAlloc, aqpSumCi, lDiversity, mutualInfo, jlProjection,
    tCloseness, aqpJoinUniverse)
}
