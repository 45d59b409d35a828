package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) made
  * DETERMINISTIC: each round every vertex adopts the most frequent label
  * among its neighbors, ties broken by the smaller label; all updates
  * apply simultaneously (no asynchronous order-dependence), so a fixed
  * round count yields the same labeling on any engine — the property
  * GraphX's LPA (hash-partition-order ties) cannot offer a cross-engine
  * oracle.
  *
  * Scale shape per round: one neighbor-label join (edges ⋈ labels on the
  * neighbor id), one (vertex, label) counting aggregate, one top-1-per-
  * vertex window — all hash-partitioned on the vertex id, whole-stage
  * codegen; lineage cut per round via localCheckpoint (the
  * [[DfConnectedComponents]] pattern). Rounds are fixed and small; for
  * community detection a handful of rounds is the standard operating
  * point (full convergence oscillates on bipartite structures).
  */
object LabelPropagation {

  /** `iters` synchronous rounds over undirected `edges` (columns `u`,
    * `v`, any orderable type); every endpoint starts labeled with
    * itself. Returns `(key, label)` for every vertex.
    */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    val nbrs = edges.select(col("u"), col("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    // keyed on v: the per-round neighbor-label join is zero-exchange on
    // the (corpus-scale) edge side; merge-pinned since
    // the checkpoint leaves' captured stats read broadcast-small at test
    // SF (the p118 class at a lake)
    val und = nbrs.unionByName(nbrs.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .keyedLckpt(Seq("v"), eager = false)
    val byCount = Window.partitionBy("key").orderBy(desc("n"), asc("label"))
    var labels = und.select(col("u").as("key")).distinct()
      .withColumn("label", col("key"))
    for (i <- 1 to iters) {
      // cut lineage on the INPUT of each round (not the output): earlier
      // rounds collapse to a materialized RDD while the last round's
      // join/aggregate/window stays a visible, optimizable plan
      val prev = if (i == 1) labels else labels.lckpt(eager = false)
      labels = und.hint("merge")
        .join(prev.withColumnRenamed("key", "v"), "v")
        .select(col("u").as("key"), col("label"))
        .groupBy("key", "label").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(byCount))
        .filter(col("rn") === 1)
        .select(col("key"), col("label"))
    }
    labels
  }
}
