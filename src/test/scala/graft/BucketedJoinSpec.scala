package graft

import graft.operators.Scale

/** Pins the point of bucketing: the bucketed fact⋈fact join plans with NO
  * shuffle exchange on either input — co-location was paid at write time. */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed join has no shuffle exchange on either join input") {
    val agg = Scale.bucketedJoin(spark, sf) // writes both bucketed tables
    assert(agg.count() > 0)
    // Inspect the join-only subplan: everything below the aggregation.
    // hint("merge") pins SortMergeJoin (at spec scale the tables are
    // small enough that Spark would otherwise broadcast — also
    // shuffle-free, but not the layout property under test).
    val joined = spark.table("graft_orders_b").hint("merge")
      .join(spark.table("graft_lineitem_b"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
    val plan = joined.queryExecution.sparkPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a co-located join, got:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle its inputs, got:\n$plan")
  }

  test("clearing one session's memos keeps another session's bucketed layout") {
    val a = spark
    val b = spark.newSession()
    Scale.bucketedJoin(a, sf)
    val sidA = org.apache.spark.sql.graft.ColumnBridge.sessionUUID(a)
    assert(Scale.bucketedLayoutMarker.contains((sidA, sf)))
    SessionMemo.clearAllForSession(b)
    assert(Scale.bucketedLayoutMarker.contains((sidA, sf)),
      "clearing session B must leave session A's layout marker intact")
    SessionMemo.clearAllForSession(a)
    assert(Scale.bucketedLayoutMarker.isEmpty,
      "clearing session A must clear its own layout marker")
  }
}
