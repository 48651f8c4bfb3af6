package graft

import graft.operators.Scale

/** Pins the runtime bloom-filter injection: under the demo confs the
  * lineitem side of the join must carry a `might_contain(bloom filter)`
  * runtime filter built from the filtered orders side — row-level
  * pruning BEFORE the shuffle, the plan shape that matters at fact-table
  * scale. (Result correctness is the DuckDB oracle's job; this spec is
  * about the plan.) */
class BloomJoinSpec extends SparkSpec {

  test("bloom filter is injected into the fact-side scan of the pruned join") {
    GraftSession.withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val plan = Scale.bloomJoinPlan(spark, sf)
        .queryExecution.executedPlan.toString
      // creation side aggregates the filter; application side probes it
      assert(plan.contains("bloom_filter_agg"), s"no bloom build in plan:\n$plan")
      assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
    }
  }

  test("bloom-pruned join returns the same rows as the plain join") {
    val pruned = Scale.bloomPrunedJoin(spark, sf).collect().toSet
    val plain = Scale.bloomJoinPlan(spark, sf).collect().toSet
    assert(pruned == plain)
  }
}
