package graft

import graft.operators.Bucketing

/** Bucketed co-located join: both sides pre-bucketed on the join key →
  * the sort-merge join must run with NO shuffle exchange under the join
  * (the one aggregation exchange afterwards is expected). */
class BucketingSpec extends SparkSuite {

  test("bucketed join has no exchange below the join; result is correct") {
    // force the sort-merge join; plan resolution AND collection must run
    // under it — queryExecution is lazy, so everything stays inside
    val (plan, got) = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = Bucketing.bucketedOrdersJoin(spark, "/root/testdata/sf0.001")
      (df.queryExecution.executedPlan.toString, df.collect().toSeq)
    }
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected a sort-merge join:\n$plan")
    // no Exchange may appear AFTER the join operator in the plan tree dump
    // (children are printed below their parent)
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange"),
      s"join inputs must be co-located (bucketed), no shuffle:\n$plan")
    // correctness: matches a plain (shuffled) join of the raw parquet
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val expect = li.join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_lines"), round(sum($"l_extendedprice"), 2).as("sum_price"))
      .orderBy($"o_orderstatus")
      .collect().toSeq
    assert(got == expect)
  }
}
