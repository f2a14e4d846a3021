package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are contributed by QueryModule objects under graft.operators etc.
  */
object SparkEntry {

  private def modules: Seq[QueryModule] = Seq(
    operators.EventQueries,
    operators.RecordQueries,
    operators.JoinQueries,
    operators.AggQueries,
    operators.WindowFnQueries,
    operators.SetSortQueries,
    operators.ScalarFnQueries,
    operators.StreamTwinQueries,
    operators.UdfQueries,
    operators.DedupQueries,
    operators.SimilarityQueries,
    operators.TextQueries,
    operators.MultimodalQueries,
    operators.MiscQueries,
    operators.TpchQueries,
    operators.ClusterQueries,
    operators.KmeansQueries,
    operators.SamplingQueries,
    operators.PipelineQueries,
    operators.CurationQueries,
    operators.GraphQueries,
    operators.SketchQueries,
    operators.WarehouseQueries,
    operators.EvalQueries,
    operators.FeatureQueries,
    operators.StatQueries,
    operators.MlQueries,
    operators.ProductQueries,
    operators.RetrievalQueries)

  private lazy val all: Seq[QueryDef] = modules.flatMap(_.defs)

  /** Names registered by more than one module — the `queries` map is
    * last-wins, so a collision silently SHADOWS an earlier query (hit
    * once: two q_rfm_segments). RegistrySpec asserts this is empty.
    */
  def duplicateNames: Seq[String] =
    all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }.toSeq.sorted

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.EventQueries.hourlyEventStats.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Built once;
    * Bench and the benchmark look up one query at a time. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap
}
