package graft.operators

import scala.collection.mutable

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Near-dup clustering (the step after candidate detection): connected
  * components over the candidate-pair graph, so each duplicate group gets
  * a canonical representative (min doc_id). The Spark side contracts each
  * partition of the edge list with a union-find in one pass, then loops
  * only over what crosses partitions: min-label propagation with pointer
  * jumping (about log d rounds when ids decrease along paths toward the
  * component minimum, d = the residual diameter; closer to a plain
  * min-label loop's d when they run in random order), each round one
  * neighbor-min join plus three label-chase joins (GraphX-free). At every
  * scale this repo runs, the candidate graph fits in one partition and no
  * round runs. Oracle is a recursive-CTE transitive closure (fine at
  * oracle scale; the partitioned form is the one that scales).
  */
object ClusterQueries extends QueryModule {

  /** Candidate edges: docs sharing >= 2 prefix shingles (3-token shingles
    * of the first 12 tokens — selective and cheap; plants guarantee some
    * multi-node components).
    */
  private def edges(spark: SparkSession, sfDir: String): DataFrame =
    // same planted near-duplicates as the DedupQueries detectors (single
    // source of truth for the plant scheme). Shingles join on their
    // 56-bit md5-prefix int64, hashed map-side before the shuffles (same
    // rationale as q_dedup_ngram_jaccard: 8-byte exchange keys; the
    // oracle applies the identical hash, so collisions cannot diverge).
    edgesOf(DedupQueries.withPlants(spark, sfDir))

  /** The same candidate-edge rule over an ARBITRARY (doc_id, text)
    * corpus — exposed so q_dedup_chain_risk can drive the SERVED edge
    * surface over a chain-planted corpus instead of re-implementing it.
    */
  private def edgesOf(planted: DataFrame): DataFrame = {
    // scatter: single-row-group scan parallelism fix (Tables.scatter
    // doc); the exchange is absorbed by the (doc_id, sh) distinct below
    val psh = Tables.scatter(planted)
      .withColumn("toks", expr("slice(split(text, ' '), 1, 12)"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))")).as("sh0"))
      // hash post-explode in a codegen'd projection, not in the
      // interpreted lambda (see DedupQueries.shingles)
      .select(col("doc_id"), expr(Ql.md5PrefixLong("sh0", 14)).as("sh"))
      .distinct()
    // scale guard (same rule as q_dedup_ngram_jaccard): a shingle in d
    // docs yields d² join rows inside one bucket — drop ubiquitous
    // shingles (df > 100) before the self-join; a boilerplate prefix
    // ("terms of service …") carries no clustering signal. No-op on this
    // corpus, load-bearing at 100 TB. psh is distinct per (doc_id, sh),
    // so count(*) per sh IS the document frequency. Broadcast the df>100
    // HOT exclusion set and left_anti — never the rare side, which is
    // ~the whole prefix-shingle vocabulary under a Zipfian law (the r13
    // shingleIntersections inversion, applied to its sibling here).
    val hotTab = psh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > 100).select("sh")
    val rare = psh.join(broadcast(hotTab), Seq("sh"), "left_anti")
    rare.select(col("sh"), col("doc_id").as("d1"))
      .join(rare.select(col("sh"), col("doc_id").as("d2")), "sh")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
      .select("d1", "d2")
  }

  /** The psh→rare→edges CTE chain of [[edgesSql]], reading from a CTE
    * named `planted` the caller must define — ONE rules text shared by
    * the three cluster oracles (via [[edgesSql]]) and the chain-planted
    * q_dedup_chain_risk oracle.
    */
  private val edgesChainSql =
    s"""psh AS (
         SELECT DISTINCT doc_id, ${Ql.Md5PrefixLong("sh0", 14)} AS sh
         FROM (
           SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS sh0
           FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 3)) AS i
                 FROM (SELECT doc_id, string_split(text, ' ')[1:12] AS t FROM planted)
                 WHERE len(t) >= 3))),
       rare AS (
         SELECT doc_id, sh FROM (
           SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM psh)
         WHERE df <= 100),
       edges AS (
         SELECT d1, d2 FROM (
           SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
           FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         WHERE common >= 2)"""

  private val edgesSql =
    s"""WITH RECURSIVE planted AS (
         SELECT * FROM ${DedupQueries.plantsSql}),
       $edgesChainSql"""

  /** One full label round relative to `prev`: neighbor-min + 3 pointer
    * jumps through prev, returning (id, old, lbl) with old = prev's
    * label. Factored out of [[connectedComponents]], which runs it twice
    * per eager job.
    */
  private[graft] def ccRound(adj: DataFrame, prev: DataFrame): DataFrame = {
    val nbrMin = adj.join(prev, adj("b") === prev("id"))
      .groupBy(col("a")).agg(min(col("lbl")).as("nlbl"))
    var cur = prev.join(nbrMin, prev("id") === nbrMin("a"), "left")
      .select(col("id"), col("lbl").as("old"),
        least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
    // chase the label's own label through the previous round's table
    // (labels are always node ids, so the lookup always hits)
    for (_ <- 1 to 3) {
      val p = prev.select(col("id").as("pid"), col("lbl").as("plbl"))
      cur = cur.join(p, cur("lbl") === p("pid"), "left")
        .select(cur("id"), cur("old"),
          least(cur("lbl"), coalesce(col("plbl"), cur("lbl"))).as("lbl"))
    }
    cur
  }

  /** Union-find over one partition's edges: `(id, root)` for every
    * endpoint, `root` the minimum id of the id's component among this
    * partition's edges. Primitive arrays only (the edges' endpoints,
    * sorted distinct ids, int-indexed parents): at most 40 bytes per
    * edge, bounded by the partition. A union hangs the larger index under
    * the smaller, so every root is its component's minimum.
    */
  private def contract(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val ends = mutable.ArrayBuilder.make[Long]
    edges.foreach { case (a, b) => ends += a; ends += b }
    val e = ends.result()
    val ids = e.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    for (x <- ids) if (n == 0 || ids(n - 1) != x) { ids(n) = x; n += 1 }
    val parent = Array.range(0, n)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    var k = 0
    while (k < e.length) {
      val ra = find(index(e(k)))
      val rb = find(index(e(k + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      k += 2
    }
    Iterator.range(0, n).map(i => (ids(i), ids(find(i))))
  }

  private def observed(obs: Observation, name: String): Long =
    obs.get(name) match {
      case null => 0L
      case n: Number => n.longValue()
    }

  /** Connected components over an undirected edge list `adj(a, b)` (one
    * direction suffices; both are fine). Returns (labels(id, lbl), rounds)
    * with `lbl` the minimum id of `id`'s component.
    *
    * Contraction: one union-find per partition ([[contract]]) gives every
    * endpoint its root there, the minimum id of its component among that
    * partition's edges. The union-find output is truncated once, so the
    * labels and the fallback below read the same run. The labels are each
    * id's minimum root, written as one checkpoint whose `observe` counts
    * the ids whose roots disagree (an id in several partitions, with a
    * different root in each).
    *
    * No disagreement means the labels are exact and `rounds` is 0. Every
    * edge lies in one partition, where its endpoints share a root; with
    * no disagreement that root is both endpoints' label. So the label is
    * constant on each component and is an id in that component, and the
    * component minimum m has a label ≤ m, so the label is m (NOTES fact
    * #29).
    *
    * Otherwise the min-label loop runs over the contraction's star graph
    * (`id—root` edges, both directions: the same components as `adj`),
    * starting from those labels. TWO rounds run per eager job (the second
    * rides a lazy mid-round truncation — see the loop body), and each
    * round's plan fuses:
    *
    *   1. neighbor-min: `cand(v) = min(lbl(v), min over neighbors)` —
    *      label information travels one hop;
    *   2. pointer jumping ×3 through the PREVIOUS round's materialized
    *      label table: `lbl(v) = min(lbl(v), prevLbl(lbl(v)))`, chained —
    *      label information also travels along the label-forest edges.
    *      That gains when ids decrease along the paths toward the
    *      component minimum: a node's label is then a node whose own label
    *      lies further along, each jump doubles the reach, and a 100-node
    *      chain with ids in path order, spread round-robin over 50
    *      partitions, converges in 6 rounds, where a plain min-label
    *      loop needs one round per hop of the residual chain. With ids
    *      in random order along a path the forest's edges mostly point
    *      sideways and the minimum spreads close to one hop per round:
    *      PropertySpec's random layouts, whose longest chains have at
    *      most 30 nodes, took 8–12 rounds over 3 and 7 partitions.
    *      Jumping through the stale table instead of the current
    *      candidates trades a little per-round reach for not
    *      materializing a mid-round frame — at the per-job floor that
    *      halves the loop's wall time.
    *
    * The convergence count rides the same materialization as an `observe`
    * metric (CollectMetrics is map-side, zero extra shuffle and zero
    * extra job). Eager checkpoints truncate lineage each round or
    * Catalyst re-analyzes the whole accumulated plan every iteration
    * (superlinear planning blowup).
    *
    * `rounds` counts loop rounds, including the final no-change fixpoint
    * check. The loop's only stable point is the true component-minimum
    * labeling (labels only decrease, stay within the component, and a
    * stable label m must satisfy lbl(m)=m, which forces m = component
    * min), so it cannot terminate on a wrong answer; past maxRounds it
    * fails loudly rather than emit unconverged (wrong) components.
    */
  def connectedComponents(adj: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = scope {
    val pair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val roots = adj.select(col("a"), col("b")).as(pair)
      .mapPartitions(contract)(pair).toDF("id", "root")
      .truncated
    val disagree = Observation()
    var labels = roots.groupBy("id")
      .agg(min(col("root")).as("lbl"), max(col("root")).as("hi"))
      .observe(disagree, sum(when(col("lbl") =!= col("hi"), 1L)
        .otherwise(0L)).as("n"))
      .select("id", "lbl")
      .checkpointed
    var changed = observed(disagree, "n")
    var rounds = 0
    val star = {
      val s = roots.filter(col("id") =!= col("root"))
      s.select(col("id").as("a"), col("root").as("b"))
        .unionByName(s.select(col("root").as("a"), col("id").as("b")))
    }
    def step(prev: DataFrame): DataFrame = ccRound(star, prev)
    while (changed > 0 && rounds < maxRounds) {
      // TWO rounds per eager job (r18): the residual graph is orders of
      // magnitude below corpus size, so the loop's wall time is dominated
      // by the per-job scheduling floor, not the data — halving the
      // barrier count halves that floor. The mid-round frame is a lazy
      // truncation: lineage is cut at plan level immediately (each job's
      // Catalyst plan stays one-round-sized, the NOTES #13 constraint)
      // while materialization rides INSIDE the eager job — the five mid
      // consumers (neighbor-min + left base + 3 chases) read its
      // persisted blocks instead of re-evaluating the subtree. Label
      // values are identical to a one-round-per-job loop: the round
      // operator is deterministic and each sub-round chases through the
      // immediately preceding label table.
      val mid = truncate(step(labels).select("id", "lbl"))
      // convergence = sub-round 2 changed nothing (old = mid's label).
      // A single no-change round pins the fixpoint: labels only decrease,
      // so an unchanged full round is stable forever after.
      val obs = Observation()
      val next = step(mid)
        .observe(obs, sum(when(col("lbl") =!= col("old"), 1L)
          .otherwise(0L)).as("changed"))
        .checkpointed
      changed = observed(obs, "changed")
      labels = next.select("id", "lbl")
      rounds += 2
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $rounds rounds")
    (labels, rounds)
  }

  /** `labels(id, lbl)` over the candidate-edge graph — the ONE
    * edges → [[connectedComponents]] scaffold all three cluster queries
    * run, factored so partition sizing and block hygiene cannot drift
    * between them. The edge list is partitioned to the CANDIDATE GRAPH,
    * not the corpus default: one partition per ~500k edges (the count is
    * a cheap action on the truncated edges), which also bounds the
    * memory of each partition's union-find. Below 500k edges that is one
    * partition, the contraction finishes the components and no label
    * round runs. One direction per edge is enough (the union-find is
    * undirected, and the fallback loop builds its own adjacency). The
    * body is one materialization scope: the final labels are a
    * checkpoint (lineage cut), so the truncated edges and the
    * contraction's blocks are unreachable from them and are released
    * when this returns, instead of taxing every later query in a
    * bench/verify session.
    */
  private def clusterLabels(spark: SparkSession, sfDir: String): DataFrame =
    clusterLabelsOf(edges(spark, sfDir))

  /** The same scaffold over an ARBITRARY edge frame `(d1, d2)` — exposed
    * so other candidate surfaces (DedupQueries' LSH split-safe queries)
    * cluster through this one definition instead of re-implementing the
    * sizing/hygiene sequence.
    */
  private[operators] def clusterLabelsOf(e0: DataFrame): DataFrame = scope {
    val e = e0.truncated
    val parts = math.max(1, (e.count() / 500000L).toInt)
    connectedComponents(
      e.select(col("d1").as("a"), col("d2").as("b")).repartition(parts))._1
  }

  /** Oracle twin of [[clusterLabels]]: recursive-CTE transitive closure
    * ending in `labels(id, lbl)` — appended after [[edgesSql]], shared
    * by the three cluster oracles.
    */
  private[operators] def ccSqlOver(edgesCte: String): String =
    s"""adj AS (SELECT d1 AS a, d2 AS b FROM $edgesCte
              UNION ALL SELECT d2, d1 FROM $edgesCte),
      nodes AS (SELECT DISTINCT a AS id FROM adj),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT adj.b, reach.r FROM reach JOIN adj ON reach.id = adj.a),
      labels AS (SELECT id, min(r) AS lbl FROM reach GROUP BY 1)"""

  private val ccSql = ccSqlOver("edges")

  private val dedupClusters = QueryDef(
    "q_dedup_clusters",
    (spark, sfDir) => {
      // members as a comma-joined string: the verify harness hashes flat
      // scalar columns, so array columns are emitted pre-joined
      clusterLabels(spark, sfDir)
        .groupBy("lbl").agg(count(lit(1)).as("cluster_size"),
          array_join(transform(sort_array(collect_list(col("id"))),
            _.cast("string")), ",").as("members"))
        .select(col("lbl").as("cluster"), col("cluster_size"), col("members"))
        .orderBy("cluster")
    },
    Some(s"""
      $edgesSql,
      $ccSql
      SELECT lbl AS cluster, count(*) AS cluster_size,
             array_to_string(list_sort(list(id)), ',') AS members
      FROM labels GROUP BY 1 ORDER BY 1
    """))

  /** Canonical-representative selection — the step that turns clusters
    * into an executable dedup decision: per near-dup cluster keep the
    * longest document (ties broken by min doc_id, so reruns are stable)
    * and count what the decision removes. Same CC labels as
    * q_dedup_clusters; the selection is one row_number window
    * partitioned by cluster label (cardinality scales with cluster
    * count) over the label table, which is candidate-graph-sized, not
    * corpus-sized. Reports per cluster: canonical id/length, docs and
    * characters removed.
    */
  private val dedupCanonical = QueryDef(
    "q_dedup_canonical",
    (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val labels = clusterLabels(spark, sfDir)
      val docs = DedupQueries.withPlants(spark, sfDir)
        .select(col("doc_id").as("id"), length(col("text")).cast("long").as("len"))
      val w = Window.partitionBy("lbl").orderBy(col("len").desc, col("id"))
      labels.join(docs, "id")
        .withColumn("rn", row_number().over(w))
        .groupBy("lbl")
        .agg(count(lit(1)).as("cluster_size"),
          max(when(col("rn") === 1, col("id"))).as("canonical_id"),
          max(when(col("rn") === 1, col("len"))).as("canonical_len"),
          (count(lit(1)) - 1).as("n_removed"),
          (sum("len") - max(when(col("rn") === 1, col("len")))).as("chars_removed"))
        .select(col("lbl").as("cluster"), col("cluster_size"),
          col("canonical_id"), col("canonical_len"), col("n_removed"),
          col("chars_removed"))
        .orderBy("cluster")
    },
    Some(s"""
      $edgesSql,
      $ccSql,
      docs AS (SELECT doc_id AS id, CAST(len(text) AS BIGINT) AS len FROM planted),
      ranked AS (
        SELECT lbl, id, len,
               row_number() OVER (PARTITION BY lbl ORDER BY len DESC, id) AS rn
        FROM labels JOIN docs USING (id))
      SELECT lbl AS cluster, count(*) AS cluster_size,
             max(CASE WHEN rn = 1 THEN id END) AS canonical_id,
             CAST(max(CASE WHEN rn = 1 THEN len END) AS BIGINT) AS canonical_len,
             count(*) - 1 AS n_removed,
             CAST(sum(len) - max(CASE WHEN rn = 1 THEN len END) AS BIGINT) AS chars_removed
      FROM ranked GROUP BY 1 ORDER BY 1
    """))

  /** Cluster-SIZE profile of the duplicate graph — the power-law readout
    * a dedup owner checks before trusting the canonical pass: per
    * component size, how many clusters and documents live there and each
    * size's share of all clustered docs. A healthy near-dup graph is
    * dominated by pairs/triples; mass migrating into large components
    * means the blocking key got too weak (template collapse) and the
    * keep-one-per-cluster rule is about to delete real content. Profile
    * covers CLUSTERED docs only — singletons never enter the edge list
    * by construction (no candidate edge ⇒ nothing to decide). Runs the
    * same [[edges]] + [[connectedComponents]] machinery the served
    * decisions use; everything past the labels is cluster-count-sized.
    */
  private val dedupClusterProfile = QueryDef(
    "q_dedup_cluster_profile",
    (spark, sfDir) => {
      val sizes = clusterLabels(spark, sfDir)
        .groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
        .checkpointed // cluster-count-sized; CC inputs released
      val tot = sizes.agg(sum(col("cluster_size")).as("n_docs_total"))
      sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .selectExpr("cluster_size", "n_clusters",
          "cluster_size * n_clusters AS n_docs",
          s"${Ql.R("100.0 * cluster_size * n_clusters / n_docs_total", 4)} AS doc_pct")
        .orderBy("cluster_size")
    },
    Some(s"""
      $edgesSql,
      $ccSql,
      sizes AS (SELECT lbl, count(*) AS cluster_size FROM labels GROUP BY 1),
      tot AS (SELECT CAST(sum(cluster_size) AS BIGINT) AS n_docs_total FROM sizes)
      SELECT cluster_size, count(*) AS n_clusters,
             CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
             ${Ql.R("100.0 * cluster_size * count(*) / any_value(n_docs_total)", 4)} AS doc_pct
      FROM sizes CROSS JOIN tot
      GROUP BY cluster_size
      ORDER BY cluster_size
    """))

  /** Transitive false-merge audit of connected-component dedup — the
    * known chaining failure of CC over a near-dup graph: A~B and B~C
    * edges merge A and C into one cluster even when A and C share almost
    * nothing, and the keep-one-canonical rule then silently deletes
    * non-duplicates. Per cluster, every removed member is scored with an
    * exact full-text shingle Jaccard against the doc the SERVED
    * canonical rule keeps (longest, tie min id — q_dedup_canonical's
    * rule): members at J ≥ 0.6 are directly justified drops, members
    * below are TRANSITIVE merges — the risk mass a dedup owner caps by
    * bounding cluster diameter or verifying members against the
    * canonical before dropping. Three planted chains (seed docs 0–2: the
    * doc + a junk-padded copy + a prefix-only stub that wins the longest
    * rule) make the transitive path non-vacuous; the plain near-dup
    * plants populate the direct path. Scale shape: edges/CC are the
    * served candidate scaffold (corpus work), everything after the label
    * table is cluster-member-sized, and each pair's Jaccard is row-local
    * array algebra — no second corpus pass, no all-pairs.
    */
  private val dedupChainRisk = QueryDef(
    "q_dedup_chain_risk",
    (spark, sfDir) => {
      import graft.Tables
      import org.apache.spark.sql.expressions.Window
      val seeds = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 3)
      val chainB = seeds.select((col("doc_id") + 400000).as("doc_id"),
        concat(col("text"), lit(" "), expr(
          "concat_ws(' ', transform(sequence(1, 5), " +
            "k -> concat('jb', CAST(doc_id AS STRING), '_', CAST(k AS STRING))))")).as("text"))
      val chainC = seeds.select((col("doc_id") + 410000).as("doc_id"),
        concat(expr("concat_ws(' ', slice(split(text, ' '), 1, 12))"), lit(" "), expr(
          "concat_ws(' ', transform(sequence(1, 40), " +
            "k -> concat('jc', CAST(doc_id AS STRING), '_', CAST(k AS STRING))))")).as("text"))
      val corpus = DedupQueries.withPlants(spark, sfDir)
        .unionByName(chainB).unionByName(chainC)
        // feeds the edge scaffold AND the member/canonical text joins
        .checkpointed
      val labels = clusterLabelsOf(edgesOf(corpus))
      val docs = corpus.select(col("doc_id").as("id"), col("text"),
        length(col("text")).cast("long").as("len"))
      val w = Window.partitionBy("lbl").orderBy(col("len").desc, col("id"))
      val ranked = labels.join(docs, "id")
        .withColumn("rn", row_number().over(w))
        // feeds the canonical slice AND the member slice
        .checkpointed
      val canon = ranked.filter(col("rn") === 1)
        .select(col("lbl"), col("id").as("canonical_id"), col("text").as("ctext"))
      def shArr(c: String) =
        s"""array_distinct(transform(sequence(0, size(split($c, ' ')) - 3),
              i -> concat_ws(' ', slice(split($c, ' '), i + 1, 3))))"""
      ranked.filter(col("rn") > 1).select(col("lbl"), col("id"), col("text"))
        .join(canon, "lbl")
        .withColumn("s1", expr(shArr("text")))
        .withColumn("s2", expr(shArr("ctext")))
        .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
        .withColumn("uni", (size(col("s1")) + size(col("s2"))).cast("long") - col("inter"))
        .withColumn("kj", expr(s"CAST(${Ql.R("inter * 10000.0 / uni", 0)} AS BIGINT)"))
        .groupBy("lbl")
        .agg((count(lit(1)) + 1).as("cluster_size"),
          max(col("canonical_id")).as("canonical_id"),
          sum((col("kj") >= 6000).cast("long")).as("n_direct"),
          sum((col("kj") < 6000).cast("long")).as("n_transitive"),
          Ql.r(min(col("kj")) / lit(10000.0), 4).as("j_min"),
          Ql.r(sum(col("kj")).cast("double") / (count(lit(1)) * lit(10000.0)), 4)
            .as("j_mean"))
        .select(col("lbl").as("cluster"), col("cluster_size"), col("canonical_id"),
          col("n_direct"), col("n_transitive"), col("j_min"), col("j_mean"))
        .orderBy("cluster")
    },
    Some(s"""
      WITH RECURSIVE seeds AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 3),
      planted AS (
        SELECT * FROM ${DedupQueries.plantsSql}
        UNION ALL
        SELECT doc_id + 400000,
               text || ' ' || array_to_string(list_transform(generate_series(1, 5),
                 k -> 'jb' || CAST(doc_id AS VARCHAR) || '_' || CAST(k AS VARCHAR)), ' ')
        FROM seeds
        UNION ALL
        SELECT doc_id + 410000,
               array_to_string(string_split(text, ' ')[1:12], ' ') || ' ' ||
               array_to_string(list_transform(generate_series(1, 40),
                 k -> 'jc' || CAST(doc_id AS VARCHAR) || '_' || CAST(k AS VARCHAR)), ' ')
        FROM seeds),
      $edgesChainSql,
      $ccSql,
      docs AS (SELECT doc_id AS id, text, CAST(len(text) AS BIGINT) AS len FROM planted),
      ranked AS (
        SELECT lbl, id, text, len,
               row_number() OVER (PARTITION BY lbl ORDER BY len DESC, id) AS rn
        FROM labels JOIN docs USING (id)),
      canon AS (SELECT lbl, id AS canonical_id, text AS ctext FROM ranked WHERE rn = 1),
      pairs AS (
        SELECT m.lbl, c.canonical_id,
               list_distinct(list_transform(generate_series(1, len(string_split(m.text, ' ')) - 2),
                 i -> array_to_string(string_split(m.text, ' ')[i:i+2], ' '))) AS s1,
               list_distinct(list_transform(generate_series(1, len(string_split(c.ctext, ' ')) - 2),
                 i -> array_to_string(string_split(c.ctext, ' ')[i:i+2], ' '))) AS s2
        FROM ranked m JOIN canon c ON m.lbl = c.lbl AND m.rn > 1),
      k AS (
        SELECT lbl, canonical_id,
               CAST(${Ql.R("CAST(len(list_intersect(s1, s2)) AS BIGINT) * 10000.0 / (len(s1) + len(s2) - len(list_intersect(s1, s2)))", 0)} AS BIGINT) AS kj
        FROM pairs)
      SELECT lbl AS cluster, count(*) + 1 AS cluster_size,
             max(canonical_id) AS canonical_id,
             CAST(sum(CASE WHEN kj >= 6000 THEN 1 ELSE 0 END) AS BIGINT) AS n_direct,
             CAST(sum(CASE WHEN kj < 6000 THEN 1 ELSE 0 END) AS BIGINT) AS n_transitive,
             ${Ql.R("min(kj) / 10000.0", 4)} AS j_min,
             ${Ql.R("CAST(sum(kj) AS DOUBLE) / (count(*) * 10000.0)", 4)} AS j_mean
      FROM k GROUP BY 1 ORDER BY 1
    """))

  /** SoftDedup-style frequency reweighting (He et al. '24, public): the
    * keep-all alternative to canonical selection — every member of a
    * duplicate cluster stays in the corpus but its sampling weight drops
    * to 1/cluster_size, so the cluster contributes ONE document's worth
    * of expected training mass and no content is deleted outright.
    * Weights are exact integer micro-units (1000000 div size — identical
    * integer division in both engines, no float ties), so the per-lang
    * effective-mass sums are order-free BIGINTs. Per lang: raw vs
    * effective doc/token mass and the share reweighting removes. Scale
    * shape: cluster sizes come from the candidate-graph-sized label
    * table; the corpus-side work is ONE left join against that broadcast-
    * able table plus a keyed aggregate — the same discipline as
    * q_split_safe.
    */
  private val softdedupWeights = QueryDef(
    "q_softdedup_weights",
    (spark, sfDir) => {
      // ONE scaffold run: the CC loop's result is already checkpointed,
      // so both consumers (sizes + the member join) read the same blocks
      val members = clusterLabels(spark, sfDir)
      val sizes = members.groupBy("lbl").agg(count(lit(1)).as("csize"))
        .checkpointed // cluster-count-sized
      val docs = DedupQueries.withPlantsFull(spark, sfDir)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      docs
        .join(members.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .join(sizes, Seq("lbl"), "left")
        .withColumn("csize", coalesce(col("csize"), lit(1L)))
        .withColumn("w_micro", expr("1000000 div csize"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum((col("csize") > 1).cast("long")).as("n_clustered"),
          sum(col("w_micro")).as("eff_docs_micro"),
          sum(col("n_toks")).as("tokens"),
          sum(col("n_toks") * col("w_micro")).as("eff_tokens_micro"))
        .withColumn("mass_removed_pct", Ql.r(
          lit(100.0) - col("eff_tokens_micro") * lit(100.0) / (col("tokens") * lit(1000000.0)), 4))
        .orderBy("lang")
    },
    Some(s"""
      WITH RECURSIVE planted AS (
        SELECT * FROM ${DedupQueries.plantsFullSql}),
      $edgesChainSql,
      $ccSql,
      sizes AS (SELECT lbl, count(*) AS csize FROM labels GROUP BY 1),
      docs AS (SELECT doc_id, lang,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
               FROM planted),
      weighted AS (
        SELECT d.lang, d.n_toks,
               coalesce(s.csize, 1) AS csize,
               1000000 // coalesce(s.csize, 1) AS w_micro
        FROM docs d
        LEFT JOIN labels l ON d.doc_id = l.id
        LEFT JOIN sizes s ON l.lbl = s.lbl)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
             CAST(sum(w_micro) AS BIGINT) AS eff_docs_micro,
             CAST(sum(n_toks) AS BIGINT) AS tokens,
             CAST(sum(n_toks * w_micro) AS BIGINT) AS eff_tokens_micro,
             ${Ql.R("100.0 - CAST(sum(n_toks * w_micro) AS DOUBLE) * 100.0 / (sum(n_toks) * 1000000.0)", 4)} AS mass_removed_pct
      FROM weighted GROUP BY 1 ORDER BY 1
    """))

  /** Keep-policy comparison — WHICH member a dedup pass keeps changes the
    * shipped corpus even when the cluster decision is identical: keep-
    * min-id (replay-stable, the streaming sinks' rule), keep-longest
    * (q_dedup_canonical's rule — maximizes surviving content), and
    * keep-most-distinct-tokens (a lexical-diversity proxy). One labels ⋈
    * docs pass and ONE cluster-keyed aggregate compute all three
    * canonicals via lexicographic struct extrema (no per-policy window
    * passes — at corpus scale three window shuffles over the member
    * table would triple the cost for the same answer); the 3-row report
    * unpivots from a single 1-row aggregate. Per policy: kept vs removed
    * character mass and how often the policy agrees with the min-id
    * baseline — the drift a pipeline owner checks before swapping rules.
    */
  private val dedupKeepPolicy = QueryDef(
    "q_dedup_keep_policy",
    (spark, sfDir) => {
      val labels = clusterLabels(spark, sfDir)
      val docs = DedupQueries.withPlants(spark, sfDir)
        .select(col("doc_id").as("id"), length(col("text")).cast("long").as("len"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("dtc"))
      val cl = labels.join(docs, "id")
        .groupBy("lbl")
        .agg(
          count(lit(1)).as("n"),
          sum(col("len")).as("total_chars"),
          min(col("id")).as("min_id"),
          min(struct(col("id"), col("len"))).as("p_min"),
          max(struct(col("len"), (-col("id")).as("nid"))).as("p_long"),
          max(struct(col("dtc"), (-col("id")).as("nid"), col("len"))).as("p_dtc"))
        .select(col("n"), col("total_chars"), col("min_id"),
          col("p_min.len").as("l_min"),
          (-col("p_long.nid")).as("c_long"), col("p_long.len").as("l_long"),
          (-col("p_dtc.nid")).as("c_dtc"), col("p_dtc.len").as("l_dtc"))
      cl.agg(
          count(lit(1)).as("n_clusters"),
          sum(col("n")).as("n_docs"),
          (sum(col("n")) - count(lit(1))).as("n_removed"),
          sum(col("total_chars")).as("tc"),
          sum(col("l_min")).as("k_min"),
          sum(col("l_long")).as("k_long"),
          sum(col("l_dtc")).as("k_dtc"),
          sum((col("c_long") === col("min_id")).cast("long")).as("a_long"),
          sum((col("c_dtc") === col("min_id")).cast("long")).as("a_dtc"))
        .selectExpr(
          """stack(3,
               'keep_longest', n_clusters, n_docs, n_removed, k_long, tc - k_long, a_long,
               'keep_min_id', n_clusters, n_docs, n_removed, k_min, tc - k_min, n_clusters,
               'keep_most_distinct', n_clusters, n_docs, n_removed, k_dtc, tc - k_dtc, a_dtc)
             AS (policy, n_clusters, n_docs, n_removed, kept_chars, removed_chars, n_pick_min_id)""")
        .orderBy("policy")
    },
    Some(s"""
      $edgesSql,
      $ccSql,
      docs AS (SELECT doc_id AS id, CAST(len(text) AS BIGINT) AS len,
                      CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS dtc
               FROM planted),
      ranked AS (
        SELECT lbl, id, len, dtc,
               row_number() OVER (PARTITION BY lbl ORDER BY id) AS ri,
               row_number() OVER (PARTITION BY lbl ORDER BY len DESC, id) AS rl,
               row_number() OVER (PARTITION BY lbl ORDER BY dtc DESC, id) AS rd
        FROM labels JOIN docs USING (id)),
      cl AS (
        SELECT lbl, count(*) AS n, sum(len) AS total_chars, min(id) AS min_id,
               max(CASE WHEN ri = 1 THEN len END) AS l_min,
               max(CASE WHEN rl = 1 THEN id END) AS c_long,
               max(CASE WHEN rl = 1 THEN len END) AS l_long,
               max(CASE WHEN rd = 1 THEN id END) AS c_dtc,
               max(CASE WHEN rd = 1 THEN len END) AS l_dtc
        FROM ranked GROUP BY 1),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(sum(n) - count(*) AS BIGINT) AS n_removed,
               CAST(sum(total_chars) AS BIGINT) AS tc,
               CAST(sum(l_min) AS BIGINT) AS k_min,
               CAST(sum(l_long) AS BIGINT) AS k_long,
               CAST(sum(l_dtc) AS BIGINT) AS k_dtc,
               CAST(sum(CASE WHEN c_long = min_id THEN 1 ELSE 0 END) AS BIGINT) AS a_long,
               CAST(sum(CASE WHEN c_dtc = min_id THEN 1 ELSE 0 END) AS BIGINT) AS a_dtc
        FROM cl)
      SELECT 'keep_longest' AS policy, n_clusters, n_docs, n_removed,
             k_long AS kept_chars, tc - k_long AS removed_chars, a_long AS n_pick_min_id
      FROM agg
      UNION ALL
      SELECT 'keep_min_id', n_clusters, n_docs, n_removed, k_min, tc - k_min, n_clusters FROM agg
      UNION ALL
      SELECT 'keep_most_distinct', n_clusters, n_docs, n_removed, k_dtc, tc - k_dtc, a_dtc FROM agg
      ORDER BY policy
    """))

  override def defs: Seq[QueryDef] =
    Seq(dedupClusters, dedupCanonical, dedupClusterProfile, dedupChainRisk,
      softdedupWeights, dedupKeepPolicy)
}
