package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss peel — the EDGE-cohesion refinement of k-core (g51): keep
  * only edges supported by ≥ k−2 triangles among surviving edges,
  * iterating to a fixpoint. A k-truss is a stricter community core
  * than a k-core (every edge sits in k−2 triangles, not just every
  * vertex at degree k), the standard cohesive-subgraph primitive one
  * level up (Cohen 2008).
  *
  * Triangles enumerate ONCE with the census's degree-ordered apex
  * machinery ([[Triangles]]: the O(√m) oriented out-degree bounds every
  * wedge reducer) — the standard truss-decomposition optimization:
  * peeling only ever REMOVES edges, so a triangle list filtered to
  * surviving edges (three hash semi-joins per round, against a
  * monotonically shrinking list) replaces per-round wedge
  * re-enumeration (measured 201 s → see BENCH_SF1 — re-enumerating
  * paid ~3× the census every round). Support then falls out of a fixed
  * 3-row explode + map-side-combined count. Lineage cuts per round; a
  * round that removes nothing has converged and the remaining
  * trajectory rows repeat the fixpoint (so a fixed-depth unrolled
  * oracle matches the early-exiting loop bit for bit).
  *
  * Output: the peel trajectory `(round, n_edges, sum_support)` — edge
  * count and exact total support of the surviving set after each
  * round, `maxRounds` rows.
  */
object KTruss {

  /** `edges` in any orientation (canonicalized + deduped internally);
    * `k ≥ 3`. Pass `tri0` (a prebuilt [[Triangles.triangleList]] of the
    * SAME graph — the memoized standing artifact) to skip the one-time
    * wedge enumeration; the peel's per-round semi-joins are unchanged.
    */
  def peelSummary(edges: DataFrame, k: Int, maxRounds: Int,
                  tri0: Option[DataFrame] = None): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3: $k")
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val minSup = (k - 2).toLong

    // keyed (u, v): the per-round support join and each round's three
    // alias-keyed edge-filter probes then run with a zero-exchange edge
    // side — the edge set is the corpus-scale table here, and the r17
    // audit showed the UnknownPartitioning checkpoint leaf
    // re-Exchanging it per round
    var e = edges
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct().keyedLckpt(Seq("u", "v"), eager = false)

    // triangle list as its three canonical edges, flat long columns —
    // from the standing artifact when provided (corners are id-sorted,
    // so the pairs (x1,x2)/(x1,x3)/(x2,x3) ARE the canonical edges),
    // one-time degree-ordered apex enumeration otherwise
    var tri = tri0 match {
      case Some(t) =>
        t.select(col("x1").as("u1"), col("x2").as("v1"),
            col("x1").as("u2"), col("x3").as("v2"),
            col("x2").as("u3"), col("x3").as("v3"))
          .keyedLckpt(Seq("u1", "v1"), eager = false)
      case None =>
        val deg = e.select(col("u").as("x"))
          .unionAll(e.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("d"))
        val withDegs = e
          .join(deg.withColumnsRenamed(Map("x" -> "u", "d" -> "du")), "u")
          .join(deg.withColumnsRenamed(Map("x" -> "v", "d" -> "dv")), "v")
        val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
        val oriented = withDegs.select(
          when(uFirst, col("u")).otherwise(col("v")).as("sid"),
          when(uFirst, col("v")).otherwise(col("u")).as("tid"),
          when(uFirst, col("dv")).otherwise(col("du")).as("td"))
          .lckpt(eager = false)
        val e1 = oriented.select(col("sid").as("a"), col("tid").as("b"), col("td").as("bd"))
        val e2 = oriented.select(col("sid").as("a2"), col("tid").as("c"), col("td").as("cd"))
        val wedges = e1.join(e2, col("a") === col("a2") &&
            (col("bd") < col("cd") || (col("bd") === col("cd") && col("b") < col("c"))))
          .select(col("a"), col("b").as("wb"), col("c").as("wc"))
        val closing = oriented.select(col("sid").as("cb"), col("tid").as("cc"))
        wedges.join(closing, col("wb") === col("cb") && col("wc") === col("cc"))
          .select(
            least(col("a"), col("wb")).as("u1"), greatest(col("a"), col("wb")).as("v1"),
            least(col("a"), col("wc")).as("u2"), greatest(col("a"), col("wc")).as("v2"),
            least(col("wb"), col("wc")).as("u3"), greatest(col("wb"), col("wc")).as("v3"))
          .keyedLckpt(Seq("u1", "v1"), eager = false)
    }

    def supports(t: DataFrame): DataFrame =
      t.select(explode(array(
          struct(col("u1").as("u"), col("v1").as("v")),
          struct(col("u2").as("u"), col("v2").as("v")),
          struct(col("u3").as("u"), col("v3").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("sup"))

    // Peel over the materialized triangle list: each round counts
    // support by one explode+aggregate over the list, drops weak edges,
    // and filters the list to surviving edges (three hash joins).
    // A support-DECREMENT variant (only dead triangles touched) was
    // measured SLOWER here (13.6 vs 11.1 s at sf0.1, 90 vs ~76 s at
    // sf1.0): detecting dead triangles itself scans the full list
    // three times per round, so the "proportional to removals" claim
    // never materializes until the removal fraction is tiny — on this
    // graph the peel removes a meaningful fraction every round.
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var converged = false
    var round = 0
    // the convergence test compares kept-edge count to the round's
    // input size; from round 2 on that input size IS the previous
    // round's kept count (already aggregated), so only round 1 pays a
    // count() scan
    var before = e.count()
    while (round < maxRounds) {
      round += 1
      if (converged) {
        // fixpoint: remaining rounds repeat the converged row, exactly
        // as the oracle's no-op unroll does
        rows += ((round, rows.last._2, rows.last._3))
      } else {
        // merge-pinned round joins (here and the tri filter below): the
        // keyed sides make them zero-exchange SMJs, and the checkpoint
        // leaves' captured stats read broadcast-small at test SF — an
        // unpinned plan would re-broadcast a corpus-scale side per round
        // kept and the next e are keyed on e's own layout (the join
        // keeps it), so neither checkpoint adds a shuffle
        val kept = e.hint("merge").join(supports(tri), Seq("u", "v"))
          .filter(col("sup") >= minSup)
          .keyedLckpt(Seq("u", "v"), eager = false)
        val summary = kept.agg(
          count(lit(1)).as("n"), coalesce(sum("sup"), lit(0L)).as("s")).head()
        rows += ((round, summary.getLong(0), summary.getLong(1)))
        converged = summary.getLong(0) == before
        before = summary.getLong(0)
        e = kept.select("u", "v").keyedLckpt(Seq("u", "v"), eager = false)
        if (!converged) {
          // triangles only die: filter the list to surviving edges.
          // The e side is zero-exchange in ALL THREE probes (alias-aware
          // partitioning: keyed (u, v) satisfies (u1, v1)/(u2, v2)/
          // (u3, v3) under the renames); tri pays the key changes.
          tri = tri.hint("merge")
            .join(e.select(col("u").as("u1"), col("v").as("v1")), Seq("u1", "v1"))
            .hint("merge")
            .join(e.select(col("u").as("u2"), col("v").as("v2")), Seq("u2", "v2"))
            .hint("merge")
            .join(e.select(col("u").as("u3"), col("v").as("v3")), Seq("u3", "v3"))
            .lckpt(eager = false)
        }
      }
    }
    rows.toSeq.toDF("round", "n_edges", "sum_support")
  }
}
