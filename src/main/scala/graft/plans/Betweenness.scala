package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Truncated sampled BETWEENNESS centrality (Brandes 2001, bounded-
  * distance variant; seed sampling per Brandes–Pich 2007) — the last
  * classic centrality beside PageRank/HITS/closeness/harmonic: how much
  * shortest-path traffic flows THROUGH a vertex. Exact all-pairs
  * betweenness is O(V·E); the standard large-graph form samples a fixed
  * seed set (an accuracy parameter, never corpus-proportional — the
  * g56/g73 rule) and truncates at radius `maxDepth` (bounded-length
  * betweenness, Borgatti 2006).
  *
  * Kept EXACT in integers, the repo's oracle discipline: the forward
  * pass counts shortest paths σ in plain longs, and Brandes's backward
  * accumulation δ(v) += σ(v)/σ(w)·(1+δ(w)) runs in scaled integer form
  *   δ́(v) = Σ_{succ w} σ(v)·(scale + δ́(w)) div σ(w)
  * with per-term floor division — level-synchronous and associative, so
  * the result is bit-identical on any engine and hash-checkable against
  * a fixed-depth SQL unroll, where float Brandes is sum-order-dependent.
  *
  * OVERFLOW BUDGET (why `scale` defaults to 1000, not 10⁶): the largest
  * intermediate is σ(v)·(scale + δ́(w)). Within radius D, σ ≤ deg^D and
  * δ́ ≤ reach·scale, so the product is bounded by deg^D · reach · scale —
  * at the sf1.0 co-purchase graph (deg ~ 2·10³, reach ~ 2·10⁵) that is
  * ~10⁶·10⁵·10³ ≈ 10¹⁴ for D = 2, comfortably inside a long; scale 10⁶
  * or D = 3 would cross 2⁶³ on dense graphs. The budget is ENFORCED
  * in-plan (the p119 lesson: comment-and-ANSI-only budgets get found by
  * scale sweeps, not specs): the term expression itself raise_errors the
  * moment scale + δ́(w) or σ(v)·(scale + δ́(w)) would cross 2⁶³ — exact
  * just under the boundary, a descriptive failure just over it, in ANY
  * SQL mode (non-ANSI long arithmetic wraps silently, which here would
  * mean plausible-but-wrong centralities). A σ that wrapped negative in
  * a non-ANSI forward pass trips the same guard.
  *
  * Shape: the forward pass is the g56 multi-source BFS with one extra
  * map-side-combined `sum(sigma)` per level; the backward pass is one
  * hash join per LEVEL (depth is a small constant), each bounded by the
  * (seed, node) reach — S seeds cost one pass, not S.
  */
object Betweenness {

  /** `edges` directed `(u, v)` — pass both orientations for undirected
    * graphs. `starts` carries a `start` column. Returns `(node,
    * betweenness_milli)` for every non-seed vertex with positive
    * accumulated dependency, where `betweenness_milli` is
    * Σ_seeds δ́_s(node) at the given `scale`.
    */
  def sampled(edges: DataFrame, starts: DataFrame, maxDepth: Int,
              scale: Long = 1000L): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be positive: $maxDepth")
    require(scale >= 1, s"scale must be positive: $scale")
    // keyed on u: both the forward levels and the backward dependency
    // pass join the edge table on u — zero-exchange on the edge side
    // every level (merge-pinned; p118 class otherwise)
    val e = edges.select(col("u"), col("v")).distinct()
      .keyedLckpt(Seq("u"), eager = false)

    // forward: per-level (start, node, sigma); sigma(v) = Σ parent sigma
    var visited = starts.select(col("start"), col("start").as("node"))
      .lckpt(eager = false)
    var frontier = starts.select(col("start"), col("start").as("node"),
      lit(1L).as("sigma")).lckpt(eager = false)
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val next = frontier.join(e.hint("merge"), col("node") === col("u"))
        .select(col("start"), col("v").as("node"), col("sigma"))
        .join(visited, Seq("start", "node"), "left_anti")
        .groupBy("start", "node").agg(sum(col("sigma")).as("sigma"))
        // keyed on the aggregate's own key (no extra shuffle): the
        // backward pass joins levels and deltas on (start, node)
        .keyedLckpt(Seq("start", "node"), eager = false)
      visited = visited.unionByName(next.select("start", "node"))
        .lckpt(eager = false)
      frontier = next
      levels += frontier
    }

    // backward: deepest level's delta is 0; each level accumulates from
    // its shortest-path successors one level deeper
    var delta = levels.last.select(col("start"), col("node"), lit(0L).as("delta"))
      .lckpt(eager = false)
    var acc = delta
    for (d <- (levels.size - 2) to 0 by -1) {
      val cur = levels(d)
      val succ = levels(d + 1)
        .join(delta, Seq("start", "node"))
        .select(col("start"), col("node").as("succ"),
          col("sigma").as("ssig"), col("delta").as("sdel"))
      // budget guard lives INSIDE the term expression so pruning cannot
      // drop it: sigma ≥ 1 and sdel ≥ 0 by construction, so the product
      // overflows iff scale + sdel crosses 2⁶³ or exceeds 2⁶³ div sigma
      // (integral `div` — SQL `/` on longs is DOUBLE division, which at
      // 2⁶² has 1024-ulp granularity and silently passes the boundary;
      // the subtraction form keeps the condition itself overflow-free)
      val overflows = col("sigma") < 0L ||
        col("sdel") > lit(Long.MaxValue - scale) ||
        col("sdel") > expr(s"${Long.MaxValue}L div sigma") - lit(scale)
      val term = when(!overflows, expr(s"sigma * ($scale + sdel) div ssig"))
        .otherwise(raise_error(concat(
          lit("Betweenness.sampled: overflow budget deg^D*reach*scale " +
            "exceeded (sigma*(scale+delta) > 2^63) at sigma="),
          col("sigma").cast("string"), lit(s" scale=$scale delta="),
          col("sdel").cast("string"),
          lit(" — reduce scale or maxDepth"))))
      val terms = cur
        .join(e.hint("merge"), col("node") === col("u"))
        .select(col("start"), col("node"), col("sigma"), col("v").as("succ"))
        .join(succ, Seq("start", "succ"))
        .select(col("start"), col("node"), term.as("term"))
        .groupBy("start", "node").agg(sum(col("term")).as("delta"))
      delta = cur.select("start", "node")
        .join(terms, Seq("start", "node"), "left")
        .select(col("start"), col("node"),
          coalesce(col("delta"), lit(0L)).as("delta"))
        .keyedLckpt(Seq("start", "node"), eager = false)
      acc = acc.unionByName(delta)
    }

    acc.filter(col("node") =!= col("start"))
      .groupBy("node").agg(sum(col("delta")).as("betweenness_milli"))
      .filter(col("betweenness_milli") > 0)
  }
}
