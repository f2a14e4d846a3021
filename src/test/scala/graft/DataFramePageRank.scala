package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** The DataFrame PageRank round that `GraphQueries.pageRank`'s CSR kernel
  * replaced, kept as a test-only reference: PropertySpec holds the kernel
  * to it byte for byte, and CheckpointBridgeSpec runs two of its rounds to
  * pin what a declared checkpoint buys a loop of joins.
  *
  * The edge table and the out-degree table are declared src-partitioned
  * checkpoints, so each round's src-keyed joins read them in place and
  * only the dst aggregation shuffles. n is the number of distinct srcs,
  * the starting ranks are 1/n for each src, and each round is
  * `Ql.r((1 − damping)/n + damping·Σ pr/deg, 7)` per dst.
  */
object DataFramePageRank {

  private val damping = 0.85

  /** The edges and degrees as declared checkpoints, n, and the starting ranks. */
  def inputs(edgesIn: DataFrame): (DataFrame, DataFrame, Double, DataFrame) = {
    val edges = edgesIn.checkpointedBy("src")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d")).checkpointedBy("src")
    val n = deg.count().toDouble
    (edges, deg, n, deg.select(col("src").as("node"), lit(1.0 / n).as("pr")))
  }

  /** One round. SHUFFLE_HASH hints keep the joins sort-free. */
  def step(edges: DataFrame, deg: DataFrame, n: Double, ranks: DataFrame): DataFrame = {
    val wt = ranks.join(deg.hint("shuffle_hash"), ranks("node") === deg("src"))
      .select(col("src"), (col("pr") / col("d")).as("w"))
    edges.join(wt.hint("shuffle_hash"), "src")
      .groupBy(col("dst"))
      .agg(sum(col("w")).as("s"))
      .select(col("dst").as("node"),
        operators.Ql.r(lit(1 - damping) / lit(n) + lit(damping) * col("s"), 7).as("pr"))
  }

  /** `rounds` rounds, checkpointed every fourth so the plan stays small. */
  def pageRank(edgesIn: DataFrame, rounds: Int): DataFrame = scope {
    val (edges, deg, n, ranks0) = inputs(edgesIn)
    var ranks = ranks0
    for (i <- 1 to rounds) {
      ranks = step(edges, deg, n, ranks)
      if (i % 4 == 0 && i < rounds) ranks = ranks.checkpointed
    }
    ranks.checkpointed
  }

  /** Rounds until Σ|pr − pr0| over the nodes ranked in both is below `tol`. */
  def pageRankConverged(edgesIn: DataFrame, tol: Double,
      maxRounds: Int = 100): (DataFrame, Int) = scope {
    val (edges, deg, n, ranks0) = inputs(edgesIn)
    var ranks = ranks0
    var rounds = 0
    var delta = Double.MaxValue
    while (delta >= tol && rounds < maxRounds) {
      val next = step(edges, deg, n, ranks).checkpointed
      delta = next.join(ranks.select(col("node"), col("pr").as("pr0")), "node")
        .agg(sum(abs(col("pr") - col("pr0"))).as("d")).head().getDouble(0)
      ranks = next
      rounds += 1
    }
    require(delta < tol, s"reference PageRank did not converge to $tol in $maxRounds rounds")
    (ranks, rounds)
  }
}
