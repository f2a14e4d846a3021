package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Lloyd-iteration k-means over the embedding column — the trained coarse
  * quantizer for IVF search (upgrading q_ann_ivf's label-mean stand-in).
  * Deterministic: init = the first K vectors, fixed 2 update iterations,
  * argmin ties broken by centroid id — so the whole thing is
  * oracle-checkable as unrolled SQL. Each iteration is one broadcast
  * assign (K×dim tiny) + one keyed mean (posexplode → avg → regroup):
  * exactly the shape that scales to billions of vectors.
  */
object KmeansQueries extends QueryModule {

  private val K = 8

  /** Nearest-centroid assignment; keeps the squared distance. Ranks on
    * the ROUNDED distance (project rounding contract): centroid components
    * come from avg() whose summation order is partitioning-dependent, so
    * an unrounded argmin could flip between engines on near-ties.
    */
  private[graft] def assign(e: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dr"), col("cid"))
    e.crossJoin(broadcast(cent))
      .withColumn("d",
        Vectors.dot(col("v"), col("v"))
          - lit(2.0) * Vectors.dot(col("v"), col("c"))
          + Vectors.dot(col("c"), col("c")))
      .withColumn("dr", Ql.r(col("d"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("cid"), col("d"))
  }

  /** New centroids = elementwise mean per cluster. */
  private[graft] def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("v")))
      .groupBy("cid", "pos")
      .agg(avg(col("col")).as("m"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").as("c"))

  private val kmeans = QueryDef(
    "q_kmeans",
    (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      var cent = e.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("v").as("c"))
      for (_ <- 1 to 2)
        cent = update(assign(e, cent)).checkpointed
      assign(e, cent)
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), Ql.r(sum(col("d"))).as("inertia"))
        .orderBy("cid")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < $K),
      a1 AS (SELECT vec_id, v, cid FROM (
               SELECT e.vec_id, e.v, c0.cid, row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c0.c)
                          + list_dot_product(c0.c, c0.c) + 1e-9, 6), c0.cid) AS rn
               FROM e, c0) WHERE rn = 1),
      c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM (
               SELECT cid, g.i AS pos, avg(v[g.i]) AS m
               FROM a1, generate_series(1, 64) g(i) GROUP BY 1, 2)
             GROUP BY cid),
      a2 AS (SELECT vec_id, v, cid FROM (
               SELECT e.vec_id, e.v, c1.cid, row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c1.c)
                          + list_dot_product(c1.c, c1.c) + 1e-9, 6), c1.cid) AS rn
               FROM e, c1) WHERE rn = 1),
      c2 AS (SELECT cid, list(m ORDER BY pos) AS c FROM (
               SELECT cid, g.i AS pos, avg(v[g.i]) AS m
               FROM a2, generate_series(1, 64) g(i) GROUP BY 1, 2)
             GROUP BY cid),
      a3 AS (SELECT vec_id, cid, d FROM (
               SELECT e.vec_id, c2.cid,
                      list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c2.c)
                        + list_dot_product(c2.c, c2.c) AS d,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c2.c)
                                 + list_dot_product(c2.c, c2.c) + 1e-9, 6), c2.cid) AS rn
               FROM e, c2) WHERE rn = 1)
      SELECT cid, count(*) AS n, ${Ql.R("sum(d)")} AS inertia
      FROM a3 GROUP BY 1 ORDER BY 1
    """))

  override def defs: Seq[QueryDef] = Seq(kmeans)
}
