package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round strongly-connected-component certificates by
  * bidirectional min-label propagation — the first (and dominant) phase
  * of the distributed FW-BW/coloring SCC algorithms (Orzan's coloring,
  * Slota-Rajamanickam-Madduri's Multistep): propagate the minimum
  * vertex id FORWARD along edges (f = min id that reaches v) and
  * BACKWARD (b = min id v reaches), both within `maxRounds` hops.
  *
  * `f_r(v) = b_r(v) = m` is a CERTIFICATE that v and m are mutually
  * reachable within radius r — i.e. a proof that v lies in m's SCC (at
  * round 0 every vertex trivially certifies into its own). The count of
  * certified vertices per round is how a cycle/feedback detector reads
  * a directed transition graph: certified mass ≈ how much of the graph
  * participates in round-trip dynamics at each radius. (Full SCC
  * decomposition recurses on the uncertified residual — the recursion
  * driver is orchestration, not a new operator shape.)
  *
  * Scale shape: DELTA propagation — each round only labels that
  * IMPROVED last round send messages (the [[Sssp]] relaxation
  * discipline), so message volume tracks the shrinking frontier, not
  * V·rounds. Per round per direction: one hash join (edges ⋈ delta),
  * one map-side-combined min, one merge join against the state. Labels
  * are vertex ids — plain integer `min()` is the whole comparison, so a
  * fixed-depth full-propagation SQL unroll computes the identical
  * state and the oracle replays every round exactly.
  *
  * Output: one row per round 0..maxRounds:
  * `(round, n_certified, f_mass, b_mass)` — certified-vertex count and
  * the two label masses (each monotone non-increasing; their joint
  * fixpoint is the converged state). All exact integers.
  */
object SccLabels {

  /** One delta round of min-label propagation along `edges` (`src`,
    * `dst`): returns the merged state and the next delta. Exposed
    * (package-private) for PlanAuditSpec.
    */
  private[graft] def propagate(edges: DataFrame, state: DataFrame,
                               delta: DataFrame): (DataFrame, DataFrame) = {
    // both joins merge-pinned: the loop tables are keyed checkpoints,
    // so the SMJs are zero-exchange and mostly zero-sort; unpinned, the leaves' captured stats read broadcast-
    // small at test SF and a corpus-scale side would re-broadcast per
    // round (the p118 class)
    val upd = edges.hint("merge")
      .join(delta.select(col("x").as("src"), col("lbl").as("m")), "src")
      .groupBy(col("dst").as("x")).agg(min(col("m")).as("nm"))
    val joined = state.hint("merge").join(upd, Seq("x"), "left")
    val merged = joined
      .select(col("x"), least(col("lbl"), coalesce(col("nm"), col("lbl"))).as("lbl"))
    val nextDelta = joined.filter(col("nm") < col("lbl"))
      .select(col("x"), col("nm").as("lbl"))
    (merged, nextDelta)
  }

  /** `edges` directed (`src`, `dst`); self-loops dropped, duplicates
    * deduped. Vertex ids must be non-null.
    */
  def trajectory(edges: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._

    val ed0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst") && col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .lckpt(eager = false)
    // both propagation directions join on THEIR src, so each keeps its
    // own keyed checkpoint copy (one Exchange each at construction, then
    // every round's edges⋈delta join is zero-exchange/zero-sort on the
    // edge side)
    val ed = ed0.keyedLckpt(Seq("src"), eager = false)
    val rev = ed0.select(col("dst").as("src"), col("src").as("dst"))
      .keyedLckpt(Seq("src"), eager = false)
    val verts = ed0.select(col("src").as("x"))
      .unionAll(ed0.select(col("dst").as("x"))).distinct()
      .keyedLckpt(Seq("x"), eager = false)

    def stats(f: DataFrame, b: DataFrame, r: Int): (Int, Long, Long, Long) = {
      val row = f.join(b.withColumnRenamed("lbl", "blbl"), "x")
        .agg(sum(when(col("lbl") === col("blbl"), 1L).otherwise(0L)).as("nc"),
          sum(col("lbl")).as("fm"), sum(col("blbl")).as("bm"))
        .head()
      (r, row.getLong(0), row.getLong(1), row.getLong(2))
    }

    // a trivial projection over the keyed verts checkpoint — left
    // UN-checkpointed so round 1 reads the keyed hash(x) partitioning
    // straight through the Project
    val init = verts.select(col("x"), col("x").as("lbl"))
    var f = init; var df = init
    var b = init; var db = init
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
    rows += stats(f, b, 0)
    var r = 0
    while (r < maxRounds) {
      r += 1
      if (df.isEmpty && db.isEmpty) {
        rows += rows.last.copy(_1 = r) // joint fixpoint — state is unchanged
      } else {
        val (f2, df2) = propagate(ed, f, df)
        val (b2, db2) = propagate(rev, b, db)
        // keyed on the state side's own layout (the left join keeps
        // it): no extra shuffle, and the next round's state and delta
        // sides stay zero-exchange
        f = f2.keyedLckpt(Seq("x"), eager = false)
        df = df2.keyedLckpt(Seq("x"), eager = false)
        b = b2.keyedLckpt(Seq("x"), eager = false)
        db = db2.keyedLckpt(Seq("x"), eager = false)
        rows += stats(f, b, r)
      }
    }
    rows.toSeq.toDF("round", "n_certified", "f_mass", "b_mass")
  }
}
