package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `registry-queries` workload: an op is one registry query, run to
  * completion. The query's DataFrame is built (`fn(spark, dir)`, which runs
  * the eager checkpoints and convergence actions) and then written out as
  * parquet, so `run.py` can digest the answer against the query's DuckDB
  * oracle. Each pass runs every query once, in an order the seed shuffles.
  * Set-up builds the in-memory `TpchGraph.cachedGraph` the g-queries read.
  */
final class QueryMix(spark: SparkSession, tracer: Tracer, dataDir: String, seed: Long)
    extends Workload {
  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    QueryMix.Ids.map { id =>
      graft.SparkEntry.queries.keys.filter(_.startsWith(id + "_")).toSeq match {
        case Seq(name) => name -> graft.SparkEntry.queries(name)
        case found => throw new IllegalArgumentException(s"query id $id matches $found")
      }
    }

  private var sizes = Seq.empty[(String, Any)]

  def setup(): Unit = sizes = tracer.span("sources.graph_build") {
    val g = graft.sources.TpchGraph.cachedGraph(spark, dataDir)
    Seq("graph_nodes" -> g.nodes.count(), "graph_edges" -> g.edges.count())
  }

  def pass(p: Int): Seq[Step] = {
    val order = if (p < 0) queries else new scala.util.Random(seed * 1000003L + p).shuffle(queries)
    order.map { case (name, fn) =>
      Step(name, "query", ctx => {
        val b0 = System.nanoTime()
        val df = ctx.tracer.span("operators.build")(fn(spark, dataDir))
        val b1 = System.nanoTime()
        ctx.tracer.span("operators.exec")(df.write.mode("overwrite").parquet(ctx.outDir))
        ctx.buildS = (b1 - b0) / 1e9
        ctx.execS = (System.nanoTime() - b1) / 1e9
        () => None // the answer is digested against the oracle by run.py
      })
    }
  }

  /** The oracle SQL of every query in the mix. */
  def finish(): Json.Obj = {
    val oracle = queries.map { case (n, _) => n -> graft.SparkEntry.oracleSql.get(n).orNull }
    Json.Obj(sizes :+ ("oracle" -> Json.Obj(oracle: _*)): _*)
  }
}

object QueryMix {
  /** Iterative plans over the cached graph beside corpus dedup and
    * streaming. g23 is DataFrame connected components (the
    * `DfConnectedComponents` endgame the dedup queries p130, p24 and p88
    * share); g37 PageRank is an r17 co-partitioning win and g79 harmonic
    * centrality one of its regressions. p58 is incremental MinHash dedup
    * (`functions.Dedup`) through the signature store of
    * `streaming.StreamingDedup`, and p76 Structured Streaming's stateful
    * `dropDuplicates` over `events` (`streaming.EventStream`).
    */
  val Ids: Seq[String] = Seq("g23", "g37", "g79", "p58", "p76")
}
