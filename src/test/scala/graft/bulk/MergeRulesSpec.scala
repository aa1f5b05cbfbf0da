package graft.bulk

import graft.SparkSpec
import graft.schema.{EqKey, NodeSpec, RelSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan shape of the merge kernel behind NodeSetOps.merge and RelSetOps.merge. */
class MergeRulesSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Runs `df` and returns every operator of its final physical plan. */
  private def executedOps(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case p => p }
  }

  test("a re-merge plans one full-outer join and no window, and keeps the first merge's columns") {
    val nodeSpec = NodeSpec(Seq("Test"), Seq("uuid"), appendProps = Seq("src"), sumProps = Seq("n"))
    val b1 = Seq((1L, "a", "s1", 1L), (2L, "b", "s2", 2L)).toDF("uuid", "key", "src", "n")
    val b2 = Seq((1L, "c", "s3", 3L), (3L, "d", "s4", 4L)).toDF("uuid", "key", "src", "n")
    val n1 = NodeSetOps.merge(None, b1, nodeSpec)
    val n2 = NodeSetOps.merge(Some(n1), b2, nodeSpec)

    val nodes = Seq((1L, Seq("Test")), (2L, Seq("Test"))).toDF("uuid", "labels")
    val relSpec = RelSpec("R", Seq("Test"), Seq("Test"), Seq(EqKey("uuid")), Seq(EqKey("uuid")),
      appendProps = Seq("src"), sumProps = Seq("n"))
    val e = Seq((1L, 2L, "s1", 1L), (2L, 1L, "s2", 2L)).toDF("start_uuid", "end_uuid", "src", "n")
    val r1 = RelSetOps.merge(None, e, nodes, relSpec)
    val r2 = RelSetOps.merge(Some(r1), e, nodes, relSpec)

    for ((first, again) <- Seq(n1 -> n2, r1 -> r2)) {
      val ops = executedOps(again)
      val fullOuter = ops.collect { case j: BaseJoinExec if j.joinType == FullOuter => j }
      assert(fullOuter.size == 1, ops.map(_.nodeName))
      assert(!ops.exists(_.isInstanceOf[WindowExec]), ops.map(_.nodeName))
      assert(first.columns.toSeq == again.columns.toSeq)
    }
  }
}
