package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters —
  * required since Spark 4 made `Column` wrap a `ColumnNode` instead of an
  * `Expression`. Lives under `org.apache.spark.sql` for package-private
  * access; the public engine API is [[graft.functions.expressions]].
  */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw logical plan (custom operators). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `ds`, a `localCheckpoint` of `repartition(n, keys)` +
    * `sortWithinPartitions(keys)`, with its `LogicalRDD` leaf rebuilt to
    * report `HashPartitioning(keys, n)` and the ascending key ordering.
    * The caller vouches for the layout; Spark does not check it.
    */
  def claimHashPartitioned[T](ds: org.apache.spark.sql.Dataset[T], keys: Seq[String],
                              n: Int): org.apache.spark.sql.Dataset[T] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val session = ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val leaf = ds.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val resolver = session.sessionState.conf.resolver
    val attrs = keys.map(k => leaf.output.find(a => resolver(a.name, k)).get)
    val claimed = leaf.copy(outputPartitioning = HashPartitioning(attrs, n),
      outputOrdering = attrs.map(SortOrder(_, Ascending)))(
      session, Some(leaf.computeStats()), Some(leaf.constraints))
    org.apache.spark.sql.classic.Dataset.ofRows(session, claimed).as[T](ds.encoder)
  }

  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Free the persisted RDDs behind a `localCheckpoint()`ed DataFrame
    * (including checkpoints under projections/filters) —
    * `Dataset.unpersist` only covers CacheManager entries, so iterative
    * algorithms that checkpoint per round would otherwise leak storage
    * until the session dies.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
