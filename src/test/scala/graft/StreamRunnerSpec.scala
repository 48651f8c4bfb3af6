package graft

import graft.streaming.EventsStream

/** The stream runner's conf contract: the state width is fixed when the
  * query STARTS (the query clones the session in its constructor), so
  * the scope around `start()` alone sizes the whole run, and the session
  * conf is back as it was before the first batch. */
class StreamRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("restartableTotals keeps the rule's width after its scope has closed") {
    val dir = java.nio.file.Files.createTempDirectory("runner_width").toString
    Seq((1L, "click", 1.0), (2L, "view", 2.0), (3L, "click", 3.0))
      .toDF("event_id", "event_type", "value").coalesce(1)
      .write.parquet(s"$dir/src")
    val key = "spark.sql.shuffle.partitions"
    // a session width the rule never yields for 5 keys
    GraftSession.withConfs(spark, key -> "7") {
      val q = EventsStream.restartableTotals(
        spark, s"$dir/src", s"$dir/ckpt", "runner_width")
      assert(spark.conf.get(key) == "7", "the scope must close at start()")
      try q.processAllAvailable() finally q.stop()
      val ran = q.recentProgress.filter(_.numInputRows > 0)
      assert(ran.nonEmpty, "the query processed no batch")
      assert(ran.last.stateOperators.head.numShufflePartitions == 4)
      assert(spark.table("runner_width").count() == 2L)
      spark.catalog.dropTempView("runner_width")
    }
  }

  test("q_stream_sessions and q_stream_sessions_tws leave the session conf as found") {
    for (name <- Seq("q_stream_sessions", "q_stream_sessions_tws")) {
      val before = spark.conf.getAll
      assert(SparkEntry.queries(name)(spark, sf).count() > 0L)
      val after = spark.conf.getAll
      val drift = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      assert(drift.isEmpty, s"$name changed the session conf: " +
        drift.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString("; "))
    }
  }
}
