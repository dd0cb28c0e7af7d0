package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics on edge lists — the relational PageRank
  * (Page et al. 1999, the unnormalized `(1-d) + d*Σ rank/deg` form).
  *
  * The iterative pattern is the 100 TB hazard here, not the math: each
  * step is join(edges, ranks) → groupBy(dst), and naively chaining 10 of
  * those builds a 10-deep lazy lineage that Catalyst re-analyzes and the
  * scheduler re-executes from the scan on any retry. Every iteration
  * therefore cuts lineage with an EAGER `localCheckpoint` — on a real
  * cluster this is `checkpoint` into the reliable store (or a persisted
  * intermediate table) every few rounds, plus edges bucketed by `src` so
  * the per-iteration join never reshuffles the (static, large) edge set;
  * only the (node-sized) rank vector moves.
  *
  * Every checkpointed relation here is re-read on each iteration, so
  * the cuts are [[Materialize.iterative]].
  *
  * Determinism across engines and shuffle orders: each contribution
  * `rank/deg` snaps to the 1e-12 grid and accumulates as an exact
  * DECIMAL(28,12) sum, so the float arithmetic per iteration is a fixed
  * op sequence on identical inputs — a DuckDB oracle unrolling the same
  * recurrence lands on identical bits (the repo's EWMA/centroid rule).
  */
object Graph {

  /** `edges`: directed (src, dst) rows, pre-deduplicated by the caller
    * (symmetrize for an undirected walk). Every node must have at least
    * one OUT-edge (true for symmetrized graphs); nodes with no in-edges
    * still receive the teleport mass via the left join. Returns
    * (node, rank) with rank on the 1e-6 grid.
    */
  def pagerank(edges: DataFrame, iterations: Int,
      teleport: Double = 0.15, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .transform(Materialize.iterative)
    // static per-edge (src, dst, deg) — computed once, reused per
    // iteration, never re-derived from the scan
    val ed = Materialize.iterative(e.join(deg, "src"))
    var ranks = deg.select(col("src").as("node"), lit(1.0).as("rank"))
      .transform(Materialize.iterative)
    for (_ <- 1 to iterations) {
      val contribs = ed.join(ranks, col("src") === col("node"))
        .select(col("dst"),
          round(col("rank") / col("deg"), 12)
            .cast("decimal(28,12)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = deg.join(contribs, col("src") === col("dst"), "left")
        .select(col("src").as("node"),
          round(lit(teleport) + lit(damping) *
            coalesce(col("s"), lit(0).cast("decimal(38,12)"))
              .cast("double"), 12).as("rank"))
        .transform(Materialize.iterative)
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Per-node triangle counts over an UNDIRECTED edge set given as
    * distinct (a, b) rows with a < b — the degree-ordered orientation
    * of Suri & Vassilvitskii 2011 ("the curse of the last reducer"):
    * orient every edge toward its higher-(degree, id) endpoint, so each
    * node's out-degree is O(√m) regardless of how skewed the raw degree
    * distribution is, and each triangle is enumerated EXACTLY once as a
    * wedge at its lowest-ordered corner closed by one oriented edge.
    *
    * That orientation is the whole scale story: the naive wedge join
    * keys wedges at the hub, so one celebrity node with degree 10^6
    * emits 10^12 wedges from a single key; degree-ordering caps every
    * node's wedge fanout at C(out-deg, 2) ≤ O(m). Both joins below are
    * hash equi-joins (the order predicate rides as a residual).
    *
    * Returns (node, n_tri) for every node in at least one triangle.
    */
  /** Estimated driver bytes per hashed (v, w) closing-edge row — two
    * longs of unsafe-row payload plus LongHashedRelation entry
    * overhead. Feeds the byte-sized [[ForcedBroadcast]] guard (ADVICE
    * r18: the old bare 4M-row guard ignored driver heap, the same
    * hazard class as the r17 unguarded skyline broadcast).
    */
  private val ClosingRowBytes = 48L

  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient toward the higher-(deg, id) endpoint; carry the dst's
    // degree for the wedge-side ordering below
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("dega")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("degb")), Seq("b"))
    // materialized once: the oriented edge list feeds BOTH wedge sides
    // and the closing probe — without the cut, each of the three uses
    // replays the whole basket-self-join edge build (measured 3x cost
    // at sf0.1: 16.7 s -> 5.9 s with the checkpoint + narrow wedges)
    val oriented = withDeg.select(
      when(col("dega") < col("degb") ||
           (col("dega") === col("degb") && col("a") < col("b")),
        struct(col("a").as("s"), col("b").as("d"), col("degb").as("dd")))
        .otherwise(
        struct(col("b").as("s"), col("a").as("d"), col("dega").as("dd")))
        .as("o"))
      .select(col("o.s").as("s"), col("o.d").as("d"), col("o.dd").as("dd"))
      .transform(Materialize.iterative)
    val w1 = oriented.select(col("s"), col("d").as("v"), col("dd").as("dv"))
    val w2 = oriented.select(col("s"), col("d").as("w"), col("dd").as("dw"))
    // the wedge relation is the quadratic one (sum of C(out-deg, 2));
    // project it to the 3 join/output columns BEFORE the closing
    // shuffle — the degree columns were only needed for the ordering
    val wedges = w1.join(w2, Seq("s"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("s"), col("v"), col("w"))
    // close the wedge: {v,w} ordered below means an existing edge is
    // oriented v->w, so one more equi-join decides membership. The
    // JOIN SIDES are wildly asymmetric — wedges is the quadratic
    // relation (sum of C(out-deg, 2); 41M rows on the sf0.1
    // co-purchase graph), closing is edge-count-sized (1.2M) — so a
    // shuffle join moves the wedge flood to meet the edge list (the
    // r18 attribution probe billed 14.2 of graph_triangles' ~20 s to
    // exactly this shuffle). Broadcasting the closing side makes the
    // close map-side; the edge count is already materialized by the
    // checkpoint, so the guard is one cheap count, with the loud
    // shuffle fallback above it (graphs whose edge list outgrows a
    // broadcast need the shuffle anyway — that IS the right plan
    // there; AQE won't pick this itself because the ~29 MB closing
    // side sits over the 10 MB auto-broadcast line).
    val closing = oriented.select(col("s").as("v"), col("d").as("w"))
    val m = oriented.count()
    val closingSide = ForcedBroadcast.orShuffle(closing, m,
      ClosingRowBytes, "triangleCounts closing edge list")
    val tris = wedges.join(closingSide, Seq("v", "w"))
      .select(col("s").as("x"), col("v").as("y"), col("w").as("z"))
    // ONE pass over the triangle relation: the old
    // unionAll-of-three-projections re-evaluated the wedge join + close
    // subtree once per corner (nothing upstream is persisted — by
    // design, the wedge flood must never be materialized), tripling the
    // dominant stage (r18 attribution probe; graph_triangles 19.8 →
    // 6.3 s with the broadcast close above plus this)
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Fixed-round k-core peel over an undirected (a < b) edge set:
    * `rounds` iterations of "drop every node with current degree < k,
    * restrict edges to surviving endpoints" — the standard peeling
    * recurrence with EXPLICIT round semantics (the pagerank convention:
    * a fixed, engine-reproducible iteration count instead of a
    * convergence test, so a DuckDB oracle can unroll the identical
    * rounds). When a round removes nothing the result IS the true
    * k-core and further rounds are no-ops (spec-pinned on graphs whose
    * fixpoint arrives early).
    *
    * Returns (node, deg) for surviving nodes with their degree in the
    * peeled subgraph. Each round is two map-side-combined degree
    * aggregations + two semi joins, lineage cut per round (plan depth
    * constant; a retry can never replay the whole peel history).
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = Materialize.iterative(edges.select(col("a"), col("b")).distinct())
    var r = 0
    while (r < rounds) {
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      e = e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")).transform(Materialize.iterative)
      r += 1
    }
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
  }

  /** Hop distances from `source` over an undirected (a < b) edge set,
    * bounded at `maxHops`: `(node, dist)` for every node reachable in
    * at most `maxHops` hops (the source itself at 0). Frontier-style
    * rounds — each joins ONLY the current frontier (not the visited
    * set) against the adjacency, so per-round cost is frontier-degree-
    * bound; visited nodes never re-expand. Lineage cut per round.
    */
  def bfsDistances(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct()
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      .transform(Materialize.iterative)
    var visited = adj.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0).as("dist")).transform(Materialize.iterative)
    var frontier = visited
    var h = 0
    while (h < maxHops) {
      val next = frontier.join(adj, col("node") === col("u"))
        .select(col("v").as("node"), (col("dist") + 1).as("dist"))
        .join(visited.select(col("node").as("__seen")),
          col("node") === col("__seen"), "left_anti")
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .transform(Materialize.iterative)
      visited = visited.unionByName(next).transform(Materialize.iterative)
      frontier = next
      h += 1
    }
    visited
  }

  /** Degree histogram of an undirected (a < b) edge set: one row per
    * occurring degree with the node count — the shape check (power-law
    * vs uniform) every graph job starts with. Two map-side-combined
    * aggregations, nothing node-pair-sized.
    */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.select(col("a"), col("b")).distinct()
      .select(col("a").as("node")).unionAll(
        edges.select(col("a"), col("b")).distinct()
          .select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
}
