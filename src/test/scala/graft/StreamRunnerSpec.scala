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

  test("a user-keyed stateful replay at width 8 equals the floor-width run and the batch") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
    import org.apache.spark.sql.types.DecimalType
    def perUser(events: DataFrame): DataFrame = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 4))).as("total"),
        max("ts").as("last_ts"))
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        widths.add(e.progress.stateOperators.head.numShufflePartitions.toInt)
    }
    // replays the events file as a stream at the rule's width for
    // `estKeys`, returning its rows and its last progress's state width
    def replay(estKeys: Long): (Set[Row], Int) = {
      widths.clear()
      val events = spark.readStream.schema(Tables.events)
        .option("pathGlobFilter", "events.parquet").parquet(sf)
      val rows = EventsStream.toMemory(spark, perUser(events), OutputMode.Complete(), estKeys)
        .collect().toSet
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      assert(!widths.isEmpty, "the replay reported no progress")
      (rows, widths.toArray.last.asInstanceOf[Int])
    }
    spark.streams.addListener(listener)
    val ((wide, w8), (floor, w4)) =
      try GraftSession.withConfs(spark, "spark.sql.shuffle.partitions" -> "8") {
        assert(EventsStream.streamStatePartitions(8, 8 * EventsStream.KeysPerStore) == 8)
        (replay(8 * EventsStream.KeysPerStore), replay(1L))
      } finally spark.streams.removeListener(listener)
    assert(w8 == 8, s"the width-8 replay ran $w8 state partitions")
    assert(w4 == EventsStream.MinStateParts, s"the floor replay ran $w4 state partitions")
    val batch = perUser(spark.read.schema(Tables.events).parquet(s"$sf/events.parquet"))
      .collect().toSet
    assert(wide.size > 8, s"only ${wide.size} users: the width would not be exercised")
    assert(wide == floor, "width 8 and the floor of 4 disagree")
    assert(wide == batch, "the stream disagrees with its batch equivalent")
  }
}
