package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics over relations the star schema implies. Sibling of
  * [[DedupOps.dedupClusters]] (connected components) on the same
  * principle: the graph is a DataFrame of edges and every step is a
  * join/aggregate Catalyst can plan — no driver-side adjacency.
  */
object GraphOps {

  /** (deg, id) total order — the orientation key of [[triangleCount]]. */
  private def ordLt(da: Column, a: Column, db: Column, b: Column): Column =
    da < db || (da === db && a < b)

  /** Triangle counting on the PROMO co-purchase graph (parts are
    * adjacent when some order contains both), the standard cohesion
    * measure over a market-basket projection. Exact, via the
    * degree-ordered orientation (Suri & Vassilvitskii, "Counting
    * triangles and the curse of the last reducer", WWW 2011): each
    * undirected edge points from its (degree, id)-smaller endpoint, so
    * every triangle forms exactly one wedge at its smallest vertex and
    * the wedge fan-out per node is bounded by out-degree ≤ O(√m) —
    * a hub of degree d contributes d² wedges under naive id-orientation
    * but only its out-wedges here, which is what survives a power-law
    * degree distribution at 100 TB.
    *
    * Edge building groups items in-order (orders are tiny baskets;
    * the pair fan-out happens inside the row, never a self-join that
    * rescans lineitem). The edge list feeds three branches (degrees,
    * wedges, the closing-edge probe), so it is MATERIALIZED once to
    * process-scratch parquet rather than recomputed per branch or
    * pinned in executor memory for the query's lifetime.
    *
    * Output is the one-row graph summary (nodes, edges, triangles);
    * the orientation is internal, so the oracle counts the same
    * triangles with the plain a<b<c three-way join. */
  /** The distinct undirected co-purchase edge list (a < b), materialized
    * once to process scratch: it feeds several branches in every caller
    * (degrees, wedges, rank iterations), and re-deriving it would re-run
    * the basket grouping per branch. Basket building groups items
    * in-order (orders are tiny baskets; the pair fan-out happens inside
    * the row, never a self-join that rescans lineitem). */
  private[ops] def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val promo = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val baskets = Tables.lineitem(spark, dir)
      // a null order key is not a basket: the oracle's equality self-
      // join never matches NULL, but a groupBy would happily build one
      // null-keyed mega-basket — drop them up front (null part keys
      // vanish inside collect_set either way)
      .filter(col("l_orderkey").isNotNull)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(promo, col("l_partkey") === col("p_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) >= 2)
    val edgesOut = graft.ingest.Materialize.processScratchDir("graft_copurchase", dir)
    baskets
      .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
      .select(col("a"), explode(expr("slice(ps, i + 2, size(ps))")).as("b"))
      .distinct()
      // canonical within-partition order: the distinct shuffle delivers
      // each partition as a SET whose arrival order varies run-to-run,
      // and unordered parquet encodes marginally different byte sizes —
      // enough to flip a downstream AQE coalesce boundary (the round-11
      // pagerank structural pin was bimodal over it). Sorted runs also
      // compress better; the sort is per-partition (no extra shuffle)
      .sortWithinPartitions("a", "b")
      .write.mode("overwrite").parquet(edgesOut)
    spark.read.parquet(edgesOut)
  }

  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(spark, dir)

    val deg = edges.select(col("a").as("v"))
      .unionByName(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val oriented = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(ordLt(col("da"), col("a"), col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(ordLt(col("da"), col("a"), col("db"), col("b")), col("b"))
          .otherwise(col("a")).as("dst"),
        when(ordLt(col("da"), col("a"), col("db"), col("b")), col("db"))
          .otherwise(col("da")).as("ddst"))
    // wedges at the triangle's (deg,id)-minimal vertex; the two out-
    // neighbors keep the same order, so the closing edge is src=v, dst=w
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("ddst").as("dw"))
    val wedges = e1.join(e2, "src")
      .filter(ordLt(col("dv"), col("v"), col("dw"), col("w")))
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))

    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** Fixed-point scale of [[pageRank]] ranks (1.0 ≡ 1 000 000) and the
    * iteration count — both part of the operator contract the oracle
    * unrolls. */
  val PrScale = 1000000L
  val PrIters = 5

  /** PageRank over the co-purchase graph — the iterative-fixpoint graph
    * operator next to [[triangleCount]] (one-shot) and
    * [[DedupOps.dedupClusters]] (converging label propagation). Exact
    * INTEGER arithmetic throughout: ranks live at [[PrScale]] fixed
    * point, each step is `150000 + (85 · Σ incoming (rank // deg)) //
    * 100` (damping 0.85 as integer ops in a pinned order), so
    * [[PrIters]] iterations are bit-identical to the oracle's unrolled
    * CTEs — no float drift, no convergence-threshold ambiguity.
    *
    * Scale shape: each iteration joins the (node, rank) table to the
    * symmetric edge list and re-aggregates by destination — the edge
    * list is the scratch-materialized parquet (scanned per round, never
    * recomputed), the rank table is nodes-sized, and the whole loop is
    * one lazily-built plan of depth [[PrIters]] (5 chained shuffles;
    * no per-round driver sync, nothing collected). The symmetric graph
    * has no dangling nodes (every endpoint has degree ≥ 1), so the
    * damping term needs no dangling-mass correction. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(spark, dir)
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
    // Degrees and the degree-annotated symmetric adjacency are
    // MATERIALIZED once to process scratch before the loop (round 13,
    // the canonical pagerank input layout). Two reasons. Scale: the
    // per-iteration `join(deg)` repeats a nodes-sized join five times —
    // folding it into the adjacency pays it once. Determinism: the
    // round-12 pagerank pin flake was an AQE broadcast-stage reuse MISS
    // under concurrent load — `deg` appeared in all five iterations, so
    // its broadcast build raced the stage cache and an extra build job
    // appeared (probe-identified: a duplicated skipped-map broadcast
    // job, same shuffles) — while after the fold, no exchange subtree
    // is shared between iterations, so there is nothing for stage
    // reuse to win or lose. The sortWithinPartitions keeps the scratch
    // bytes deterministic (the r11 contract).
    val degOut = graft.ingest.Materialize.processScratchDir("graft_pagerank_deg", dir)
    sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .sortWithinPartitions("src")
      .write.mode("overwrite").parquet(degOut)
    val deg = spark.read.parquet(degOut)
    val adjOut = graft.ingest.Materialize.processScratchDir("graft_pagerank_adj", dir)
    sym.join(deg, "src")
      .sortWithinPartitions("src", "dst")
      .write.mode("overwrite").parquet(adjOut)
    val adj = spark.read.parquet(adjOut)
    var ranks = deg.select(col("src").as("v"), lit(PrScale).as("rank"))
    for (_ <- 1 to PrIters) {
      val contrib = adj
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"),
          graft.functions.Exact.idiv(col("rank"), col("deg")).as("c"))
      ranks = contrib.groupBy("v")
        .agg((lit(15L * PrScale / 100) +
          graft.functions.Exact.idiv(sum(col("c")) * 85L, lit(100L))).as("rank"))
    }
    ranks.select(col("v").as("p_partkey"), col("rank").as("rank_e6"))
  }

  /** Hop cap for [[bfsHops]] — bounds both engines' exploration. */
  val BfsMaxHops = 8

  /** Single-source BFS (shortest hop counts) over the co-purchase
    * graph, from the minimum vertex id (deterministic in both engines)
    * — the reachability/radius primitive next to [[pageRank]]'s
    * centrality and CC's partitioning. Classic frontier expansion:
    * each round joins the CURRENT frontier (not the visited set) to
    * the edge list, anti-joins out already-visited vertices, and tags
    * survivors with the round number — every vertex is expanded exactly
    * once, total work O(E) across all rounds, not O(E·rounds).
    * Frontier and visited are CHECKPOINTED per round ([[DedupOps.ckpt]]
    * — reliable dir at scale via the same conf): visited appears in
    * two branches of the next round's plan, so without materialization
    * the lineage doubles per hop. The loop drains early when the
    * frontier empties (the count is the materialization action, driver
    * sees only a number). Oracle: a recursive CTE with the same hop cap
    * + `min(hops)` per vertex — the BFS-distance definition. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(spark, dir)
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
    var visited = DedupOps.ckpt(
      sym.agg(min(col("src")).as("v")).filter(col("v").isNotNull)
        .withColumn("hops", lit(0L)))
    var frontier = visited
    var h = 1
    var frontierSize = frontier.count()
    while (h <= BfsMaxHops && frontierSize > 0) {
      // LAZY checkpoints: the frontier count is the round's one
      // materializing action; the visited union's final stage rides
      // into the next round's anti-join (or the final read)
      frontier = DedupOps.ckptLazy(sym
        .join(frontier.select(col("v").as("src")), "src")
        .select(col("dst").as("v")).distinct()
        .join(visited, Seq("v"), "left_anti")
        .withColumn("hops", lit(h.toLong)))
      frontierSize = frontier.count()
      if (frontierSize > 0)
        visited = DedupOps.ckptLazy(visited.unionByName(frontier))
      h += 1
    }
    visited.select(col("v").as("p_partkey"), col("hops"))
  }
}
