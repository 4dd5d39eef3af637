package graft.store

import graft.SparkSpec

/** Bucketed co-located join: the SortMergeJoin over two tables bucketed on
  * the join key must run with no Exchange on either side. */
class BucketingSpec extends SparkSpec {

  test("q184 joins the bucketed tables without shuffling either side") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = Bucketing.q184BucketedJoin(spark, dir)
      val plan = q.queryExecution.executedPlan
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a SortMergeJoin:\n$plan")
      // the only Exchange allowed is the one ABOVE the join for the
      // groupBy(o_orderpriority); the join's subtree must be shuffle-free
      val joinSub = smj.head.toString
      assert(!joinSub.contains("Exchange"),
        s"bucketed join should not shuffle its inputs:\n$joinSub")
      assert(q.collect().map(_.getString(0)).toSeq == q.collect().map(_.getString(0)).toSeq.sorted)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }
}
