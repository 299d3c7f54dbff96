package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics over a derived bipartite graph (customers ↔
  * suppliers linked by line items). Companion to the min-label
  * connected-components in [[Dedup.connectedComponents]]: same
  * one-join-plus-one-agg-per-round shape, different fixed point.
  *
  * Everything is FIXED-POINT integer arithmetic (rank mass in 1e-12
  * units, floor division for the per-edge split) — not a portability
  * hack but the defined semantics: integer ops are bit-identical on any
  * engine and any partitioning, so a 3-iteration run is exactly
  * reproducible cluster-to-cluster and the DuckDB oracle matches to the
  * unit. (Float PageRank differs run-to-run in the last ulps on a real
  * cluster — reproducible pipelines pin the arithmetic.)
  */
object Graph {

  /** Total rank mass (1e12 micro-units) and damping = 85/100. */
  private val Scale = 1000000000000L
  private val Iterations = 3

  /** q_pagerank — damped PageRank (d = 0.85, 3 fixed iterations) on the
    * undirected customer↔supplier graph: node ids are disambiguated
    * (customer = 2k, supplier = 2k+1), each edge carries rank/degree in
    * both directions, and every iteration is ONE shuffle join (edges ⋈
    * ranks on src) + ONE keyed aggregation on dst — the iteration
    * count is fixed, so the whole lineage is 3 such rounds; at 100 TB
    * each round co-partitions edges and ranks on the node key and the
    * rank relation (one row per node) is orders smaller than the edge
    * list. Symmetric edges mean in-degree ≥ 1 everywhere: no dangling
    * mass. Output: the 20 top-ranked nodes, rank in exact 1e-12 units.
    * Reference analogy: iterative keyed state refinement is the same
    * shape as the reference's pairing store sweep (OrderProcessor.java:
    * 161-206) generalized to a converging relation. */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("p"))
      .distinct()
    // edges (with out-degree attached) are loop-invariant: materialize
    // once (localCheckpoint → durable checkpoint on a cluster, as in
    // Dedup.connectedComponents) or every iteration re-derives the
    // distinct pair join from scratch. Carrying `d` on the edge row
    // removes a second E-sized join from EVERY iteration, and the
    // window count costs one shuffle where groupBy+join cost two.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val edges = pairs
      .select(explode(array(
        struct(col("c").as("src"), col("p").as("dst")),
        struct(col("p").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .withColumn("d", count(lit(1)).over(w))
      .transform(graft.Pins.checkpoint)
    val nodes = graft.Pins.checkpoint(edges.select(col("src").as("node")).distinct())
    // n is a bounded scalar (one Long off an already-checkpointed n-row
    // relation): resolving it once replaces a broadcast crossJoin in the
    // init AND in every iteration
    val n = nodes.count()
    // init: every node starts with SCALE/n (floor) micro-units
    var ranks = nodes.select(col("node"), lit(Scale / n).as("rank"))
    val teleport = (Scale * 15 / 100) / n
    for (it <- 1 to Iterations) {
      // checkpoint per round: iteration i's plan must not replay 1..i-1
      // (the last round's plan is consumed exactly once by the edge sort
      // below, so it skips the checkpoint write). The ranks are a
      // measured pin: within the broadcast threshold the planner ships
      // the n-row ranks into the E-row checkpointed edges — the edge
      // list never shuffles again after its one materialization.
      ranks = edges
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("rank div d").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_mass"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr("(85 * in_mass) div 100")).as("rank"))
      if (it < Iterations) ranks = graft.Pins.checkpoint(ranks)
    }
    ranks
      .select(col("node"), col("rank"),
        when(col("node") % 2 === 0, "customer").otherwise("supplier").as("kind"))
      .orderBy(col("rank").desc, col("node").asc)
      .limit(20)
  }
}
