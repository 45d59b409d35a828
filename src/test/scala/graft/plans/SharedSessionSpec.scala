package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The iterative loops run as a library on a SHARED session: they must
  * leave its config exactly as they found it, must not run any query
  * with AQE switched off, and two loops started from two threads must
  * return what they return when run one after the other.
  */
class SharedSessionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val directed: DataFrame =
    GraphGen.randGraph(seed = 7L, n = 60, m = 240).toDF("src", "dst")
  private lazy val undirected: DataFrame = directed.toDF("u", "v")

  private val loops: Seq[(String, () => DataFrame)] = Seq(
    "PageRank.ranksScaled" -> (() => PageRank.ranksScaled(directed, iters = 6)),
    "KCore.peel" -> (() => KCore.peel(undirected, k = 3)),
    "SccLabels.trajectory" -> (() => SccLabels.trajectory(directed, maxRounds = 6)),
    "DensestSubgraph.peelSummary" -> (() => DensestSubgraph.peelSummary(undirected)),
    "DfConnectedComponents.run" -> (() => DfConnectedComponents.run(directed)))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** A plan Spark would hand to AQE (it shuffles, or an operator in it
    * needs a distribution) yet did not: it ran with AQE off. */
  private def ranWithoutAqe(plan: SparkPlan): Boolean =
    !plan.isInstanceOf[AdaptiveSparkPlanExec] && plan.exists {
      case _: Exchange => true
      case p => !p.requiredChildDistribution.forall(_ == UnspecifiedDistribution)
    }

  test("the loops leave the session conf unchanged and run every query under AQE") {
    val before = spark.conf.getAll
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add(funcName -> qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executed.add(funcName -> qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      for ((name, run) <- loops) assert(rows(run()).nonEmpty, name)
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    import scala.jdk.CollectionConverters._
    val plans = executed.asScala.toSeq
    assert(plans.count(_._2.isInstanceOf[AdaptiveSparkPlanExec]) >= loops.size, plans.size)
    val offending = plans.filter(p => ranWithoutAqe(p._2))
    assert(offending.isEmpty,
      s"${offending.size} of ${plans.size} queries ran with AQE off, first:\n" +
        offending.headOption.map(p => s"${p._1}\n${p._2.treeString}").getOrElse(""))
    assert(spark.conf.getAll == before)
  }

  test("two loops run from two threads return their sequential answers") {
    val pairs = Seq(loops(0), loops(2))
    val sequential = pairs.map { case (_, run) => rows(run()) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val concurrent = Await.result(
        Future.sequence(pairs.map { case (_, run) => Future(rows(run())) }), 5.minutes)
      for (((name, _), (seq, conc)) <- pairs.zip(sequential.zip(concurrent)))
        assert(conc == seq, name)
    } finally pool.shutdown()
  }
}
