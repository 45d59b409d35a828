package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Luby's maximal-independent-set rounds (Luby, "A Simple Parallel
  * Algorithm for the Maximal Independent Set Problem", SICOMP '86) —
  * the distributed symmetry-breaking primitive behind parallel greedy
  * coloring, conflict-free parallel updates, and landmark selection on
  * graphs. Each round every active vertex whose PRIORITY beats all of
  * its active neighbors joins the set; selected vertices and their
  * neighborhoods retire, and the residual graph recurses. With random
  * priorities the active edge set halves in expectation per round, so
  * the loop is O(log n) rounds of pure hash joins and map-side-combined
  * aggregates — no per-vertex sequential dependency anywhere.
  *
  * The priority is DETERMINISTIC: the p21 split-column md5-threshold
  * hash of the vertex id, packed with the id itself into one long
  * (`h·2³¹ + id`, `h` the 28-bit hash) so the order is total even on
  * hash collisions and a plain integer `min()` — exact on every engine
  * — is the neighborhood comparison. A DuckDB oracle therefore replays
  * every round bit for bit. The packed key needs `0 ≤ id < 2³¹`
  * (checked); a deployment with wider ids swaps the packed long for a
  * `min(struct(h, id))` — the Spark plan is otherwise unchanged.
  *
  * A round that leaves no active vertices has converged; remaining
  * trajectory rows repeat the fixpoint zeros, so a fixed-depth unrolled
  * oracle matches the early-exiting loop (the KTruss convention).
  *
  * Output: the trajectory `(round, n_selected, n_remaining)` — vertices
  * selected this round and vertices still active after removing the
  * selected set and its neighborhood; `maxRounds` rows. Totals are
  * exact integers.
  */
object Mis {

  /** The per-round neighborhood-minimum stage: neighbor priorities
    * computed MAP-SIDE on the (active×active) residual adjacency — the
    * priority is a pure function of the id, so no join is needed — then
    * a map-side-combined `min` per vertex. Exposed (package-private) so
    * PlanAuditSpec can pin the exact plan the loop runs — the trajectory
    * output itself is a collected LocalTableScan and pins nothing.
    */
  private[graft] def neighborhoodMin(adj: DataFrame,
                                     pkOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    // JOIN-FREE (r17): the priority is a PURE FUNCTION of the vertex id,
    // and the residual adjacency is active×active by construction — so
    // the neighbor's priority is computed map-side on the adjacency row
    // instead of joined in from the active table. One map-side-combined
    // min per round; the corpus-scale adjacency is never joined here.
    adj.select(col("x"), pkOf(col("y")).as("ypk"))
      .groupBy("x").agg(min(col("ypk")).as("npk"))

  /** `edges` in any orientation (canonicalized + deduped internally;
    * self-loops dropped). Isolated-by-attrition vertices (all
    * neighbors retired) select trivially on their next round — the
    * neighborhood minimum over an empty set is "no constraint".
    */
  /** `forcePacked`: None (default) auto-detects from the id range;
    * Some(false) forces the wide-id struct order — the spec uses it to
    * pin struct == packed on ids where both are valid.
    */
  def trajectory(edges: DataFrame, maxRounds: Int,
                 salt: String = "mis:",
                 forcePacked: Option[Boolean] = None): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._

    val und = edges
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    // both directions: one row per (vertex, neighbor) — the shape the
    // per-vertex neighborhood minimum aggregates over. Keyed on x: the
    // x-side probes (selected-neighborhood, the residual's first
    // restriction) run zero-exchange every round. Every per-round table
    // below is keyed on x too; each is produced by an x-keyed join or
    // distinct, so its keyed checkpoint adds no shuffle
    var adj = und.select(col("u").as("x"), col("v").as("y"))
      .unionAll(und.select(col("v").as("x"), col("u").as("y")))
      .keyedLckpt(Seq("x"), eager = false)

    val verts = adj.select(col("x")).distinct().keyedLckpt(Seq("x"), eager = false)
    // ONE aggregate scan over the distinct-vertex set decides everything
    // the setup needs: null-cast count (the loud guard), id range (the
    // packed-priority probe), and the initial active count — the old
    // code ran three separate actions here (two filters + a count).
    // Cast first: a non-numeric id null-casts, and `col < 0` on null
    // matches nothing — a filter-shaped guard would fail OPEN and
    // packedPriority's null `pk` would make every active vertex select
    // in round 1 (pk < npk never true, npk null). Null casts must fail
    // LOUDLY here; min/max skip nulls so the range probe stays valid.
    val probe = verts
      .agg(count(lit(1)).as("n"),
        // coalesce: sum() over ZERO rows is null, and an empty graph is
        // a legal input (documented fixpoint of zeros) — getLong on the
        // raw sum would NPE before fitsPacked's n == 0 short-circuit
        coalesce(sum(when(col("x").cast("long").isNull, 1L).otherwise(0L)),
          lit(0L)).as("n_null"),
        min(col("x").cast("long")).as("lo"),
        max(col("x").cast("long")).as("hi"))
      .head()
    require(probe.getLong(1) == 0L, "MIS priorities need numeric vertex ids")
    // packed priority h·2³¹ + id (28-bit md5 hash high, id low) WHEN the
    // ids fit [0, 2³¹): integer-total order, collision-proof,
    // oracle-replayable, and the neighborhood min stays a primitive
    // long min in codegen. Ids outside that range — lake-scale vertex
    // ids are arbitrary int64; the r14 sf4.0 sweep hit this live via
    // ScaleData's tile offsets (39·10⁸ > 2³¹ at 40 tiles) — fall back
    // to the SAME total order as a lexicographic struct min
    // `min(struct(h, id))`; the plan shape is otherwise unchanged and
    // MisSpec pins struct == packed on ids where both are valid.
    val fitsPacked = forcePacked.getOrElse(
      probe.getLong(0) == 0L ||
        (probe.getLong(2) >= 0L && probe.getLong(3) < (1L << 31)))
    def packedPriority(id: org.apache.spark.sql.Column) = {
      val h = conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 7), 16, 10)
        .cast("long")
      if (fitsPacked) h * lit(1L << 31) + id.cast("long")
      else struct(h.as("h"), id.cast("long").as("i"))
    }
    var active = verts
      .select(col("x"), packedPriority(col("x")).as("pk"))
      .keyedLckpt(Seq("x"), eager = false)

    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var remaining = probe.getLong(0) // |verts| == |active| (1:1 select)
    var round = 0
    while (round < maxRounds) {
      round += 1
      if (remaining == 0L) {
        rows += ((round, 0L, 0L)) // fixpoint — matches the oracle's no-op unroll
      } else {
        // neighborhood minimum per active vertex: one hash join of the
        // active adjacency against priorities + a map-side-combined min
        val nbrMin = neighborhoodMin(adj, packedPriority)
        val selected = active.hint("merge").join(nbrMin, Seq("x"), "left")
          .filter(col("npk").isNull || col("pk") < col("npk"))
          .select("x")
          .keyedLckpt(Seq("x"), eager = false)
        // retire the selected set and its whole neighborhood — probed on
        // the keyed x side (zero-exchange)
        val retiredNbrs = adj.hint("merge")
          .join(selected, "x")
          .select(col("y").as("x")).distinct()
        val nextActive = active.hint("merge")
          .join(selected, Seq("x"), "left_anti")
          .hint("merge")
          .join(retiredNbrs, Seq("x"), "left_anti")
          .keyedLckpt(Seq("x"), eager = false)
        val nSelected = selected.count()
        val nRemaining = nextActive.count()
        rows += ((round, nSelected, nRemaining))
        // residual adjacency: both endpoints still active. x first (free
        // off the keyed side), then y (the round's one adjacency
        // re-key), then SWAP the columns: adj is symmetric as a SET, so
        // (y, x)-relabelling preserves content while the alias-aware
        // hash(y) partitioning lands on the new "x" — the next round's
        // x probes are free again without a second re-key.
        adj = adj.hint("merge")
          .join(nextActive.select("x"), "x")
          .hint("merge")
          .join(nextActive.select(col("x").as("y")), "y")
          .select(col("y").as("x"), col("x").as("y"))
          .keyedLckpt(Seq("x"), eager = false)
        active = nextActive
        remaining = nRemaining
      }
    }
    rows.toSeq.toDF("round", "n_selected", "n_remaining")
  }
}
