package graft

/** Plan-audit utility: prints the formatted physical plan for the named
  * queries (or a default audit set) so scan pruning (`PushedFilters`,
  * `ReadSchema`), join strategies (BroadcastHashJoin vs SortMergeJoin) and
  * WholeStageCodegen spans can be inspected per query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_filter_pred", "q_region_revenue", "q_customer_features",
        "q_topk_customers", "q_dedup_ngram")
    // the Bench session, so the audited plans are the plans the bench
    // times. Plan-evidence dumps can run at the bench's scale via
    // SPARK_GRAFT_SF_DIR (join-strategy size conditions are
    // data-dependent — a sf0.001 plan can broadcast where the sf0.1
    // bench shuffles).
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val q = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query '$n' - not in SparkEntry.queries " +
          s"(${SparkEntry.queries.size} registered)"))
      val df = q(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
      df.explain("formatted")
      // GRAFT_EXECUTE=1: also execute and print the FINAL adaptive plan
      // (AQE decides join strategy / coalescing at runtime, so the
      // initial `isFinalPlan=false` dump can differ from what the bench
      // actually times). collect() drives the same QueryExecution, so
      // executedPlan is the finalized one afterwards. Only sane for
      // small-output queries — the audit sets here all are.
      if (sys.env.contains("GRAFT_EXECUTE")) {
        df.collect()
        println(s"---- $n FINAL (post-AQE) ----")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
