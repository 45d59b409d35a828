package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** `keyedLckpt` rebuilds its checkpoint leaf to claim
  * `HashPartitioning(keys, n)` plus the ascending key ordering, and Spark
  * never checks such a claim: a leaf whose rows sit elsewhere would make
  * co-partitioned joins silently drop matches. So the claim is checked
  * here, row by row, under the live AQE-on session, along with the plan
  * shape it exists for: a join on the keys plans no Exchange and no Sort
  * on the keyed side.
  */
class KeyedCkptSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import Ckpt._

  private def width: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def table: DataFrame = spark.range(2000).select(
    (col("id") * 7919 % 113).as("a"), (col("id") % 5).as("b"), col("id").as("v"))

  /** Partition count, row placement and in-partition order of `leaf`. */
  private def assertLayout(leaf: DataFrame, keys: Seq[String]): Unit = {
    val n = width
    val lr = leaf.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    lr.outputPartitioning match {
      case HashPartitioning(exprs, m) =>
        assert(exprs.map(_.asInstanceOf[Attribute].name) == keys && m == n, lr.outputPartitioning)
      case other => fail(s"claimed $other")
    }
    assert(lr.rdd.getNumPartitions == n)
    val misplaced = leaf.filter(spark_partition_id() =!= pmod(hash(keys.map(col): _*), lit(n)))
    assert(misplaced.count() == 0, s"rows outside pmod(hash(${keys.mkString(", ")}), $n)")
    val idx = keys.map(k => leaf.columns.indexOf(k))
    val sorted = leaf.rdd.mapPartitions { rows =>
      val ks = rows.map(r => idx.map(r.getLong)).toVector
      Iterator(ks.zip(ks.drop(1)).forall { case (x, y) =>
        x.zip(y).find { case (p, q) => p != q }.forall { case (p, q) => p < q }
      })
    }.collect()
    assert(sorted.length == n && sorted.forall(identity), "rows unsorted within a partition")
  }

  /** The SMJ of a merge-pinned join with `leaf` on the left. */
  private def joinPlan(leaf: DataFrame, other: DataFrame, keys: Seq[String]): (SortMergeJoinExec, DataFrame) = {
    val j = leaf.hint("merge").join(other, keys)
    val rows = j.collect() // runs AQE to its final plan
    val smj = collect(j.queryExecution.executedPlan) { case s: SortMergeJoinExec => s }
    assert(smj.size == 1, j.queryExecution.executedPlan.treeString)
    (smj.head, spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), j.schema))
  }

  private def shufflesAndSorts(p: SparkPlan): Seq[String] =
    collect(p) {
      case e: ShuffleExchangeLike => e.nodeName
      case s: SortExec => s.nodeName
    }

  for (keys <- Seq(Seq("a"), Seq("a", "b")); eager <- Seq(true, false)) {
    val tag = s"${keys.mkString("(", ", ", ")")}, eager=$eager"

    test(s"keyedLckpt leaf holds exactly the claimed layout $tag") {
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assertLayout(table.keyedLckpt(keys, eager), keys)
    }

    test(s"a join on the keys plans no Exchange and no Sort on the keyed side $tag") {
      val leaf = table.keyedLckpt(keys, eager)
      val other = spark.range(300).select(
        (col("id") % 113).as("a"), (col("id") % 5).as("b"), (col("id") * 3).as("w"))
      val (smj, got) = joinPlan(leaf, other, keys)
      assert(shufflesAndSorts(smj.left).isEmpty, smj.treeString)
      assert(shufflesAndSorts(smj.right).nonEmpty, smj.treeString)
      // same answer as the join against the plain table
      val want = table.join(other, keys)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("a child already partitioned by the keys keeps n partitions under AQE coalescing") {
    // the planner drops the repartition here, so the width rests on AQE
    // not coalescing the aggregate's own shuffle below the claimed n
    val agg = table.groupBy("a").agg(sum("v").as("v"))
    val leaf = agg.keyedLckpt(Seq("a"), eager = false)
    assertLayout(leaf, Seq("a"))
    assert(leaf.count() == 113)
  }
}
