package graft.streaming

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming over the `events` table (SURVEY.md §7.3: streaming
  * enters only via the north-star extensions — the reference has none).
  *
  * The parquet file drives a real `readStream` file source; `
  * processAllAvailable()` makes the run synchronous for verification. The
  * same code runs against a live directory/Kafka source unchanged.
  *
  * Scale notes: windowed aggregation state is keyed by (window,
  * event_type) — bounded by watermark expiry; sessionization state is
  * per-user and emitted/cleared via timeout, so state size tracks active
  * users, not history.
  */
object EventsStream {

  /** File-stream source for `<table>.parquet` under `dir`, robust to
    * BOTH layouts the engine meets: the driver's single parquet FILE
    * (streamed via a parent-dir glob filter — a direct file path fails,
    * FileStreamSource's basePath must be a directory) and an
    * engine-written parquet DIRECTORY of part files (streamed directly —
    * a glob filter on the parent matches no plain file there and yields
    * a silently EMPTY stream; that failure mode surfaced as a null
    * watermark-sentinel max against the 10× scale corpus, PLANS.md
    * round-13 note). */
  private def tableStream(spark: SparkSession, dir: String,
      table: String, schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    // layout probe via the Hadoop FileSystem of the PATH'S scheme, not
    // java.io.File — a local-only probe answers false for every
    // hdfs://../s3a:// directory and would re-create the silently-empty
    // stream on exactly the remote storage a 100 TB job reads. A path
    // that is NEITHER a file nor a directory fails loudly here: falling
    // through to the glob filter would match nothing and start the
    // silently-empty stream this helper exists to eliminate.
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val status =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status match {
      case Some(s) if s.isDirectory =>
        spark.readStream.schema(schema).parquet(p.toString)
      case Some(_) =>
        spark.readStream.schema(schema)
          .option("pathGlobFilter", s"$table.parquet").parquet(dir)
      case None =>
        throw new IllegalArgumentException(
          s"tableStream: no file or directory named $table.parquet under " +
            s"$dir — refusing to start a silently empty stream")
    }
  }

  /** DERIVED state-partition count — the one sizing rule of every
    * stateful stream (round-22 verdict item 4). Every state partition
    * spins its own state-store instance per micro-batch (RocksDB: a
    * native instance plus changelog machinery) — a FIXED per-partition,
    * per-batch cost — while keyed-state results are
    * partition-count-independent. So the count must track the stream's
    * KEY CARDINALITY, never the core count:
    *
    *   partitions = clamp(ceil(estKeys / KeysPerStore),
    *                      MinStateParts, max(cap, MinStateParts))
    *
    * KeysPerStore = 1e6: at the ~10–100 B/key session/profile state these
    * streams hold, a store below ~1M keys is still instance-startup-bound
    * (the round-21 measurement: at a few THOUSAND keys, 8 stores were
    * pure spin-up and 4 measurably cheaper — q_gen_stream 46→4.9 s,
    * q_stream_type_totals 32→19 s summed executor time), while ~1M keys
    * ≈ tens of MB per store, well inside one instance's working set.
    * MinStateParts = 4 is that measured small-corpus floor (it also keeps
    * multi-batch replays overlapping provider startup across tasks). The
    * `cap` is the SESSION width, read by the caller before any scope
    * changes it: it sends a 10⁹-key corpus to the cluster's configured
    * width instead of a constant this library invents. */
  private[graft] val KeysPerStore = 1000000L
  private[graft] val MinStateParts = 4
  private[graft] def streamStatePartitions(cap: Int, estKeys: Long): Int = {
    val derived = ((math.max(estKeys, 1L) + KeysPerStore - 1L) / KeysPerStore).toInt
    math.min(math.max(derived, MinStateParts), math.max(cap, MinStateParts))
  }

  /** Key estimate of the event-type-keyed and windowed aggregates: the
    * five generator-defined event types. A window multiplies them by its
    * live buckets, which stays orders under [[KeysPerStore]], so either
    * way the rule lands on its floor. */
  private[graft] val EventTypeKeys = 5L

  /** Start a stream with its state width from [[streamStatePartitions]]
    * (and, for `transformWithState`, the RocksDB provider — the API's
    * only supported one, and the one a 100 TB stateful job wants:
    * off-heap/on-disk state with changelog checkpointing). The session
    * width is read ONCE, before the scope sets anything. The scope wraps
    * `start()` alone: the query clones the session in its constructor
    * and records width and provider in its offset log, so both are
    * fixed from then on and the session conf is restored before the
    * first batch runs. */
  private def startScoped(spark: SparkSession, estKeys: Long, rocks: Boolean)(
      writer: DataStreamWriter[_]): StreamingQuery = {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val rocksConf =
      if (rocks) Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil
    GraftSession.withConfs(spark, Seq("spark.sql.shuffle.partitions" ->
      streamStatePartitions(width, estKeys).toString) ++ rocksConf: _*)(writer.start())
  }

  /** The one memory-sink runner: start `df` in `mode` under
    * [[startScoped]], drain it, then MATERIALIZE and unregister its table
    * — the uniquely-named temp views otherwise accumulate full result
    * copies in driver memory for the session's lifetime (bench sweeps
    * run each entry point 10+ times per sweep). */
  private[graft] def toMemory(spark: SparkSession, df: DataFrame,
      mode: OutputMode, estKeys: Long, rocks: Boolean = false): DataFrame = {
    val name = s"graft_stream_${System.nanoTime()}"
    val q = startScoped(spark, estKeys, rocks)(
      df.writeStream.outputMode(mode).format("memory").queryName(name))
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  private val keyCountMemo = new graft.SessionMemo[java.lang.Long]()

  /** Estimated distinct stream keys for the user-keyed streams: the user
    * dimension's row count (events.user_id is the FK the stream-static
    * join resolves against customer.c_custkey, so |customer| bounds the
    * distinct key count from above — the safe direction for store
    * sizing). A parquet row count reads footer metadata, not data;
    * memoized per (session, dir) like every other derived table fact. */
  private def estUserKeys(spark: SparkSession, dir: String): Long =
    rowCount(spark, dir, "customer")

  /** Row count of `table` under `dir`, memoized per (session, dir). */
  private def rowCount(spark: SparkSession, dir: String, table: String): Long =
    keyCountMemo.getOrCompute(spark, s"$table|$dir")(
      java.lang.Long.valueOf(Tables.load(spark, dir, table).count())).longValue()

  /** Streamed tumbling-1h aggregation with a 1-hour watermark; memory-sink
    * complete mode. Matches the batch `q_events_hourly` oracle exactly. */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = tableStream(spark, dir, "events", Tables.events)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n_events"), col("total_value"))
    toMemory(spark, agg, OutputMode.Complete(), EventTypeKeys)
  }

  /** Streamed SLIDING-window aggregation (2h window, 1h slide): every event
    * lands in two windows. The oracle replays the same semantics in SQL as
    * a union of the two shifted tumbling buckets. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = tableStream(spark, dir, "events", Tables.events)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("n_events"), col("total_value"))
    toMemory(spark, agg, OutputMode.Complete(), EventTypeKeys)
  }

  // no `value` field: neither sessionizer reads it, and an unused 8-byte
  // double per event would ride the groupByKey shuffle and the state
  // encoder on every micro-batch for nothing
  final case class Event(user_id: Long, tsMicros: Long)
  final case class SessionSummary(user_id: Long, n_sessions: Int, n_events: Int)
  /** Cross-batch session state: the running totals PLUS the last event
    * time — without `lastTs` a session spanning two micro-batches is
    * counted twice (each batch would restart the gap scan cold). */
  final case class SessionState(n_sessions: Int, n_events: Int, lastTs: Long)

  /** The per-batch gap scan both sessionizers run: sort the batch's
    * events (so the result is independent of arrival order WITHIN a
    * batch), continue from the carried state — `prev` is None for a
    * user's first batch — and count a new session at every gap wider
    * than `gapMicros`. */
  private def scanSessions(prev: Option[SessionState], events: Iterator[Event],
      gapMicros: Long): SessionState = {
    val sorted = events.toSeq.sortBy(_.tsMicros)
    val start = prev.getOrElse(SessionState(0, 0, Long.MinValue))
    var sessions = start.n_sessions
    var last = start.lastTs
    sorted.foreach { e =>
      if (last == Long.MinValue || e.tsMicros - last > gapMicros) sessions += 1
      last = e.tsMicros
    }
    SessionState(sessions, start.n_events + sorted.size, last)
  }

  /** Stateful sessionization via flatMapGroupsWithState: count 30-minute-gap
    * sessions per user. Events are sorted inside the group before the scan
    * so the result is independent of arrival/partition order WITHIN a
    * batch, and the persisted last-event time carries the gap scan
    * across micro-batch boundaries.
    *
    * ORDERING PRECONDITION: correctness across batches requires each
    * user's events to arrive in non-decreasing EVENT-TIME order across
    * micro-batches — the single `lastTs` cannot re-order history, so a
    * later batch delivering an EARLIER event computes a negative gap and
    * silently merges (or splits) sessions. A file source batches by file
    * listing, which honors this only when files are time-ordered per
    * user (true for this table layout and for date-partitioned logs, the
    * common case). A source without that guarantee needs the
    * watermark-buffered [[TimerSessionProcessor]] instead, which sorts
    * buffered events and only finalizes once the watermark closes the
    * gap. The update-mode memory sink appends one row per (user, batch);
    * the keep-last window returns only each user's final summary. */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    val src = tableStream(spark, dir, "events", Tables.events)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[Event]
    val fn: (Long, Iterator[Event], GroupState[SessionState]) => Iterator[SessionSummary] =
      (uid, events, state) => {
        val next = scanSessions(state.getOption, events, gapMicros)
        state.update(next)
        Iterator.single(SessionSummary(uid, next.n_sessions, next.n_events))
      }
    val out = src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fn)
    keepLastPerKey(toMemory(spark, out.toDF(), OutputMode.Update(),
      estUserKeys(spark, dir)), Seq("user_id"), "n_events")
  }

  /** Update-mode memory sinks append one row per (key, micro-batch);
    * every consumer wants each key's LAST emission. The `ord` column
    * must be STRICTLY increasing per key across batches (`n_events` is,
    * monotonically, for every caller) — that is the tie-safety argument,
    * stated once here instead of implicitly at each sink. */
  private def keepLastPerKey(
      df: DataFrame, keys: Seq[String], ord: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(ord).desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Streaming deduplication: every event is delivered twice (the
    * at-least-once delivery a real pipeline sees), then
    * `dropDuplicatesWithinWatermark` on the event id restores
    * exactly-once counts. The duplicates are synthesized map-side with an
    * explode over the single source scan — a self-union of two
    * `readStream`s would read and decode the parquet twice for the same
    * semantics. Watermark-scoped state is the 100 TB story: dedup memory
    * tracks the watermark horizon, not the full history. */
  def dedupCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = tableStream(spark, dir, "events", Tables.events)
      .withColumn("delivery", explode(array(lit(0), lit(1))))
      .drop("delivery")
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
    // dedup state is keyed on event_id: at most one key per event row
    toMemory(spark, agg, OutputMode.Complete(), rowCount(spark, dir, "events"))
  }

  /** [[sessionize]]'s logic on the modern `transformWithState` API
    * (Spark 4 arbitrary-state v2): explicit named `ValueState` via the
    * processor handle instead of the single implicit `GroupState`. The
    * per-batch scan is identical, so output matches the
    * `q_stream_sessions` oracle row-for-row — and it inherits the same
    * per-user event-time-ordered-batch precondition ([[sessionize]]'s
    * ORDERING PRECONDITION note). */
  final class SessionProcessor(gapMicros: Long)
      extends StatefulProcessor[Long, Event, SessionSummary] {
    @transient private var summary: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      summary = getHandle.getValueState[SessionState]("summary",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionSummary] = {
      // lastTs persists across micro-batches (the [[SessionState]] note)
      val next = scanSessions(Option.when(summary.exists())(summary.get()),
        rows, gapMicros)
      summary.update(next)
      Iterator.single(SessionSummary(uid, next.n_sessions, next.n_events))
    }
  }

  /** Sessionization via `transformWithState` on the RocksDB state store
    * ([[startScoped]]); state partitions derive from the user-key
    * cardinality (the test corpus lands on the measured floor of 4, a
    * 10⁹-user corpus fans out to session width). */
  def sessionizeTws(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    val out = tableStream(spark, dir, "events", Tables.events)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMicros),
        TimeMode.None(), OutputMode.Update())
    keepLastPerKey(toMemory(spark, out.toDF(), OutputMode.Update(),
      estUserKeys(spark, dir), rocks = true), Seq("user_id"), "n_events")
  }

  final case class TimerEvent(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long, value: Double)
  final case class BufEvent(tsMicros: Long, event_id: Long, value: Double)
  final case class SessionRow(user_id: Long, session_id: Long, n_events: Long,
    duration_us: Long, total_value: Double, first_event: Long)

  /** Timer-driven sessionizer — the EVENT-TIME TIMER surface of
    * `transformWithState` (the one piece of the arbitrary-state-v2 API
    * the NoTimeout/Update sessionizers don't exercise): events buffer in
    * a `ListState`; every batch (re)arms an event-time timer at
    * last-event + gap; sessions are emitted ONLY from
    * `handleExpiredTimer`, once the WATERMARK proves the gap can no
    * longer be bridged by a late event — the append-mode "session is
    * closed" semantics a downstream consumer can act on exactly once.
    * Incomplete trailing sessions stay buffered (and re-armed), so
    * emission is correct under any micro-batching; a per-user emitted-
    * session counter keeps session ids stable across emissions. */
  final class TimerSessionProcessor(gapMicros: Long)
      extends StatefulProcessor[Long, TimerEvent, SessionRow] {
    @transient private var buf: org.apache.spark.sql.streaming.ListState[BufEvent] = _
    @transient private var emitted: ValueState[Long] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[BufEvent]("buf",
        Encoders.product[BufEvent], TTLConfig.NONE)
      emitted = getHandle.getValueState[Long]("emitted",
        Encoders.scalaLong, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Exactly ONE armed timer per key: the previous timer is deleted
      * before a later one is registered (superseded timers would
      * otherwise accumulate in timer state and fire spuriously), and the
      * armed expiry tracks the MAX buffered-event horizon — a late batch
      * carrying only out-of-order older events must not pull the close
      * timer earlier than the latest buffered event's gap allows. */
    private def armAt(expiryMs: Long): Unit = {
      val prev = if (armed.exists()) armed.get() else Long.MinValue
      val target = math.max(prev, expiryMs)
      if (target != prev) {
        if (prev != Long.MinValue) getHandle.deleteTimer(prev)
        getHandle.registerTimer(target)
        armed.update(target)
      }
    }

    override def handleInputRows(uid: Long, rows: Iterator[TimerEvent],
        timerValues: TimerValues): Iterator[SessionRow] = {
      var maxUs = Long.MinValue
      rows.foreach { e =>
        // epoch µs from Timestamp: whole seconds via getTime (floor), the
        // sub-second part from getNanos — getTime alone truncates to ms
        val us = math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000
        buf.appendValue(BufEvent(us, e.event_id, e.value))
        if (us > maxUs) maxUs = us
      }
      // arm (or re-arm later) the close timer: fires once the watermark
      // passes the last buffered event's gap horizon
      if (maxUs != Long.MinValue)
        armAt(maxUs / 1000L + gapMicros / 1000L + 1L)
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionRow] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val sorted = buf.get().toSeq.sortBy(e => (e.tsMicros, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      // split into gap-delimited sessions
      val sessions = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer(sorted.head))
      sorted.tail.foreach { e =>
        if (e.tsMicros - sessions.last.last.tsMicros > gapMicros)
          sessions += scala.collection.mutable.ArrayBuffer(e)
        else sessions.last += e
      }
      // a session is CLOSED only when no future event can extend it
      val (closed, open) = sessions.partition(_.last.tsMicros + gapMicros < wmUs)
      val base = if (emitted.exists()) emitted.get() else 0L
      val out = closed.zipWithIndex.map { case (s, i) =>
        val total = s.foldLeft(BigDecimal(0)) { (a, e) =>
          a + BigDecimal.valueOf(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        }
        SessionRow(uid, base + i + 1, s.size.toLong,
          s.last.tsMicros - s.head.tsMicros, total.toDouble,
          s.map(_.event_id).min)
      }
      emitted.update(base + closed.size)
      buf.clear()
      // the fired timer was consumed; clear the armed record before any
      // re-arm so armAt doesn't try to delete an already-fired timer
      armed.clear()
      if (open.nonEmpty) {
        open.flatten.foreach(e => buf.appendValue(e))
        armAt(open.map(_.last.tsMicros).max / 1000L + gapMicros / 1000L + 1L)
      }
      out.iterator
    }
  }

  /** The timer-sessionizer core over a PREPARED watermarked source —
    * shared by the production entry point below and the multi-batch
    * robustness spec (which drives it with maxFilesPerTrigger=1 so
    * timers fire MID-stream, exercising the close/re-arm/buffer logic
    * the single-batch replay can't). RocksDB provider as in
    * [[sessionizeTws]]. */
  private[graft] def runTimerSessions(spark: SparkSession,
      src: Dataset[TimerEvent], gapMicros: Long,
      estKeys: Long = 1L): DataFrame = {
    import spark.implicits._
    // State partitions derived from the caller's key-cardinality estimate
    // (default 1 → the floor 4, the measured small-corpus optimum). This
    // query's multi-batch replay (two sources + trailing no-data batch)
    // pays each partition's RocksDB spin-up 3+ times, so
    // over-partitioning is 3× as expensive here as elsewhere.
    val out = src.groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor(gapMicros),
        TimeMode.EventTime(), OutputMode.Append())
    toMemory(spark, out.toDF(), OutputMode.Append(), estKeys, rocks = true)
      .filter(col("user_id") =!= -1L)
  }

  /** One-time state-store warm-up for bench runs: drives a 3-row scratch
    * stream through the RocksDB `transformWithState` path so the FIRST
    * real stateful query in a sweep isn't billed the JVM-wide one-time
    * costs (RocksDB native-library load, provider machinery) that have
    * nothing to do with its plan. Results are discarded; correctness
    * paths never depend on this. */
  def warmStateStore(spark: SparkSession): Unit = {
    import spark.implicits._
    val path = graft.operators.Scale.scratchDir("graft_rocks_warm")
    spark.range(3).select(col("id").as("user_id"),
        timestamp_micros(col("id") * 1000000L).as("ts"),
        col("id").as("event_id"), lit(0.0).as("value"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val src = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, event_id LONG, value DOUBLE")
      .parquet(path)
      .withWatermark("ts", "1 second")
      .as[TimerEvent]
    runTimerSessions(spark, src, 1000000L).count()
    ()
  }

  private val sentinelMemo = new graft.SessionMemo[String]()

  /** The events stream plus a HEARTBEAT: a second file-stream source
    * holding one sentinel row per `types` entry (event_id and user_id −1,
    * filtered from every output) at max(event time) + `offsetMicros`. A
    * finite file stream's watermark stops at max(event time) − delay,
    * which strands the state the last events opened; the sentinel drives
    * it past them, and Spark's trailing no-data micro-batch flushes that
    * state — what a production pipeline's heartbeat topic does. Only the
    * sentinel rows are written, never a copy of the fact table, and only
    * once per (session, dir, offset, types): the max-scan and the parquet
    * commit were pure per-call overhead on repeat runs. (The memo assumes
    * the dir is immutable in-session, like every Tables.load cache here.) */
  private def withSentinel(spark: SparkSession, dir: String,
      offsetMicros: Long, types: Seq[String]): DataFrame = {
    val raw = spark.read.schema(Tables.events).parquet(s"$dir/events.parquet")
    val path = sentinelMemo.getOrCompute(spark,
        s"sentinel|$dir|$offsetMicros|${types.mkString(",")}") {
      val maxMicros = raw.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val path = graft.operators.Scale.scratchDir(
        s"graft_sentinel_${math.abs(dir.hashCode)}")
      types.map { t =>
        spark.range(1).select(
            lit(-1L).as("event_id"),
            timestamp_micros(lit(maxMicros + offsetMicros)).as("ts"),
            lit(-1L).as("user_id"), lit(t).as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
          .select(raw.columns.map(col): _*)
      }.reduce(_ union _).coalesce(1).write.mode("overwrite").parquet(path)
      path
    }
    tableStream(spark, dir, "events", raw.schema)
      .union(spark.readStream.schema(raw.schema).parquet(path))
  }

  /** Append-mode sessionization via `transformWithState` EVENT-TIME
    * TIMERS — output matches the exact batch session table
    * (`q_sessionize_batch`'s oracle shape) row for row: the watermark
    * (driven past the last real event by a [[withSentinel]] heartbeat)
    * closes every session, the timers fire in the trailing no-data
    * batch, and each closed session emits exactly once. */
  def sessionizeTimers(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    // The sentinel sits at max + gap + 2h: the watermark (1h delay) then
    // reaches max + gap + 1h > any session's close timer (last + gap,
    // last ≤ max) at ANY gap — a fixed +3h offset silently left trailing
    // sessions unclosed once gapMinutes ≥ 120.
    val src = withSentinel(spark, dir, gapMicros + 7200000000L, Seq("click"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[TimerEvent]
    runTimerSessions(spark, src, gapMicros, estUserKeys(spark, dir))
  }

  final case class TypeTotals(n_events: Long, total_cents: Long)
  final case class UserTypeRow(user_id: Long, event_type: String,
    n_events: Long, total_value: Double)

  /** Per-user per-type running totals on `transformWithState` MAP STATE —
    * the third state primitive (ValueState: [[SessionProcessor]],
    * ListState: [[TimerSessionProcessor]], MapState: here), keyed the way
    * a serving profile store is: user → {event_type → (count, total)}.
    * Each batch folds its rows into the map and re-emits the touched
    * entries (update mode = last-write-wins in the sink, so the final
    * table equals the batch groupBy exactly). Money rides as integer
    * CENTS inside the state — the per-event 2-dp decimal is exact in
    * cents, the running sum stays a Long, and the single final /100
    * division is exact in double — so no float accumulation order can
    * creep between batches. */
  final class TypeTotalsProcessor
      extends StatefulProcessor[Long, EventT, UserTypeRow] {
    @transient private var totals: org.apache.spark.sql.streaming.MapState[String, TypeTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getMapState[String, TypeTotals]("totals",
        Encoders.STRING, Encoders.product[TypeTotals], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[EventT],
        timerValues: TimerValues): Iterator[UserTypeRow] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val cents = BigDecimal.valueOf(e.value)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100
        val prev =
          if (totals.containsKey(e.event_type)) totals.getValue(e.event_type)
          else TypeTotals(0L, 0L)
        totals.updateValue(e.event_type,
          TypeTotals(prev.n_events + 1, prev.total_cents + cents.toLongExact))
        touched += e.event_type
      }
      touched.iterator.map { t =>
        val v = totals.getValue(t)
        UserTypeRow(uid, t, v.n_events, v.total_cents / 100.0)
      }
    }
  }

  final case class EventT(user_id: Long, event_type: String, value: Double)

  /** MapState profile totals matching the batch
    * groupBy(user_id, event_type) oracle exactly (update-mode memory
    * sink keeps each key's last emission). */
  def typeTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tableStream(spark, dir, "events", Tables.events)
      .select(col("user_id"), col("event_type"), col("value"))
      .as[EventT]
      .groupByKey(_.user_id)
      .transformWithState(new TypeTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
    keepLastPerKey(toMemory(spark, out.toDF(), OutputMode.Update(),
      estUserKeys(spark, dir), rocks = true), Seq("user_id", "event_type"), "n_events")
  }

  /** STREAM-STATIC join: the dim-enrichment pattern — each micro-batch of
    * the event stream joins a static (broadcast) dimension, then feeds a
    * windowless running aggregation. The static side is re-resolvable per
    * batch (Spark re-plans it), which at scale is how slowly-changing
    * dims stay fresh without restarting the query. Matches the batch
    * join oracle exactly. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val src = tableStream(spark, dir, "events", Tables.events)
    val dim = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = src
      .join(broadcast(dim), src("user_id") === dim("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
    // keyed by the five market segments: the same floor as event types
    toMemory(spark, agg, OutputMode.Complete(), EventTypeKeys)
  }

  /** STREAMING SKETCH-TABLE BUILD — the continuous half of the
    * [[graft.operators.Sketches]] pattern: the event stream maintains
    * one HLL sketch of `user_id` per (day, event_type) through a
    * watermarked windowed aggregation, and each output row carries the
    * sketch's ESTIMATE. At 100 TB this is how the persisted sketch
    * table ([[graft.operators.Sketches.hllRollupSaved]]) stays current
    * without nightly re-scans: the HLL buffer is a
    * TypedImperativeAggregate, so the state store holds one ~16 KB
    * serialized sketch per (day, type) window — constant per key,
    * merged incrementally as micro-batches arrive. The harness runs
    * Complete mode for the memory sink (like the rest of this family),
    * where the watermark bounds late data but does NOT evict state; the
    * long-running production shape is Update mode into the sketch
    * table, where the same watermark also retires closed days' state.
    * Estimates are rows-only by the sketch-family
    * contract; `StreamingSpec` pins them against the batch exact
    * distinct per (day, type) within the HLL error envelope and against
    * [[graft.operators.Sketches.hllRollup]]'s estimates for the same
    * datasketches inputs. */
  def hllDailyUsers(spark: SparkSession, dir: String): DataFrame = {
    val agg = tableStream(spark, dir, "events", Tables.events)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 14))
          .as("est_users"),
        count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("day_start"),
        col("event_type"), col("est_users"), col("n_events"))
    toMemory(spark, agg, OutputMode.Complete(), EventTypeKeys)
  }

  /** [[hllDailyUsers]] as a BOUNDED-ERROR ORACLE query (round-17,
    * closing the last rows-only streaming row): the stream-maintained
    * HLL estimate can't be replayed in DuckDB, but the batch side's
    * bounded-boolean scheme applies directly — the output carries the
    * EXACT distinct users per (day, type), recomputed here by a batch
    * aggregate DuckDB mirrors independently (UTC session ⇒
    * `window(ts,'1 day')` ≡ epoch-day flooring), and a boolean
    * asserting the STREAMED estimate sits within the same 5% envelope
    * `SketchSpec` has always pinned for this sketch (5×rsd at
    * lgConfigK = 14 is ~4.1%; 5% is the committed spec bound). The
    * estimate itself still comes from the real streaming query — a
    * broken sketch merge, watermark regression, or drifted day
    * bucketing now flips the boolean or the exact half and fails the
    * driver's t2 hash gate instead of only a spec floor. The exact
    * audit join is test-scale scaffolding, like
    * [[graft.operators.Sketches.cmsHeavyHitters]]'s audit half — at
    * 100 TB the sketch table serves alone. */
  def hllDailyUsersBounded(spark: SparkSession, dir: String): DataFrame = {
    val streamed = hllDailyUsers(spark, dir)
    val exact = Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
      .select(unix_timestamp(col("window.start")).as("day_start"),
        col("event_type"), col("exact_users"))
    streamed.join(exact, Seq("day_start", "event_type"))
      .select(col("day_start"), col("event_type"), col("exact_users"),
        col("n_events"),
        (abs(col("est_users").cast("double") - col("exact_users").cast("double"))
          <= col("exact_users").cast("double")
            * graft.operators.Sketches.HllEnvelope).as("within_bound"))
  }

  /** `foreachBatch` sink: each micro-batch is partially aggregated and
    * written to its own parquet path keyed by batch id (idempotent
    * overwrite = exactly-once on retry), then the partials are merged.
    * Decimal partial sums keep the merge order-independent, so the result
    * equals the all-at-once batch aggregate bit-for-bit. */
  def foreachBatchTotals(spark: SparkSession, dir: String): DataFrame =
    runPerBatchParquetSink(spark, tableStream(spark, dir, "events", Tables.events),
        "graft_fb") { batch =>
      batch.groupBy("event_type")
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("partial_sum"),
          count(lit(1)).as("partial_n"))
    }
      .groupBy("event_type")
      .agg(sum("partial_sum").cast("double").as("total_value"),
        sum("partial_n").as("n_events"))

  /** The per-batch-parquet `foreachBatch` sink discipline, shared by
    * [[foreachBatchTotals]] and [[streamIncrementalDedup]]: each
    * micro-batch's transform lands in its own path keyed by batch id
    * (idempotent overwrite = exactly-once on retry), the stream drains
    * under try/finally, and the merged read returns every batch's rows.
    * Scratch dirs come from [[graft.operators.Scale.scratchDir]]
    * (shutdown-hook-cleaned — each execution otherwise leaks its
    * partials until the OS cleans /tmp). */
  private def runPerBatchParquetSink(
      spark: SparkSession, src: DataFrame, scratchPrefix: String)(
      perBatch: DataFrame => DataFrame): DataFrame = {
    val out = graft.operators.Scale.scratchDir(scratchPrefix)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        perBatch(batch)
          .write.mode("overwrite").parquet(s"$out/batch_$batchId")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val batchDirs = Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("batch_")).map(_.getAbsolutePath)
    spark.read.parquet(batchDirs.toIndexedSeq: _*)
  }

  /** STREAMING INCREMENTAL DEDUP — the continuous form of
    * [[graft.operators.Dedup.dedupIncremental]]: documents of the
    * arrival source stream in; each micro-batch runs the batch
    * candidate-generate → exact-verify core against the STATIC corpus
    * index (shingled once, lineage-truncated, reused by every batch —
    * the posting index a nightly pipeline maintains), and per-batch
    * verdicts land in idempotent per-batch parquet (overwrite by batch
    * id = exactly-once on retry), exactly the [[foreachBatchTotals]]
    * sink discipline.
    *
    * The decisive property: a verdict depends only on (doc, corpus) —
    * new arrivals are never compared to EACH OTHER — so the union of
    * per-batch verdicts equals the all-at-once batch run REGARDLESS of
    * how the stream was micro-batched, and this query shares
    * `q_dedup_incremental`'s exhaustive DuckDB oracle verbatim. (Only
    * the hot-shingle guard's df estimate is per-batch — the arrival
    * side's contribution to document frequency varies with batch
    * composition — which can matter only when a shingle crosses the
    * cap, i.e. never below pathological boilerplate scale.) */
  def streamIncrementalDedup(spark: SparkSession, dir: String,
      newSource: String = "src1", threshold: Double = 0.2,
      dfCap: Long = 1000L): DataFrame = {
    // the static corpus index rides Dedup's session-memoized shingled
    // corpus (the SAME checkpointed frame the batch twin and every other
    // shingle consumer share) joined to the skinny source column —
    // re-shingling and re-checkpointing it per call paid a redundant
    // corpus materialization on every bench repeat
    val srcCol = Tables.load(spark, dir, "documents")
      .select("doc_id", "source")
    val corpus = graft.operators.Dedup.docShinglesShared(spark, dir)
      .join(srcCol, "doc_id")
      .filter(col("source") =!= newSource)
    val src = tableStream(spark, dir, "documents", Tables.documents)
      .filter(col("source") === newSource)
    runPerBatchParquetSink(spark, src, "graft_sid") { batch =>
      graft.operators.Dedup.incrementalVerdicts(
        graft.operators.Dedup.shingledOf(batch, "lang"),
        corpus, batch.select("doc_id"), threshold, dfCap)
    }
  }

  /** STREAM-STREAM inner join — click→purchase attribution: every
    * (click, purchase) pair for the same user with the purchase inside
    * [click, click + 30 min]. Both sides carry a 1-hour watermark and the
    * event-time RANGE CONDITION rides in the join predicate itself —
    * that's what lets Spark bound the join state (a click older than
    * watermark + 30 min can never match a future purchase and is evicted;
    * without the range bound, stream-stream state grows forever). Append
    * mode: inner-join matches emit as soon as both sides arrive.
    * Timestamps are floor-truncated ns→µs on the Spark side and compared
    * in epoch µs by the oracle, so the 30-minute boundary is bit-exact. */
  def clickAttribution(spark: SparkSession, dir: String): DataFrame =
    toMemory(spark, attributionJoin(tableStream(spark, dir, "events", Tables.events),
      "inner"), OutputMode.Append(), estUserKeys(spark, dir))

  /** The clicks ⋈ purchases builder both attribution queries share. A
    * stream-stream join runs FOUR state-store instances per partition
    * (left/right × keyToNumValues/keyWithIndexToValue), so partition
    * count is 4× the usual per-batch fixed cost: both callers size it
    * from the join-key (user) cardinality (round-22 verdict item 5;
    * measured in OPTIMIZATION_r22.md). */
  private def attributionJoin(src: DataFrame, joinType: String): DataFrame = {
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val buys = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(buys,
        col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
  }

  /** STREAM-STREAM LEFT-OUTER JOIN — attribution where clicks with NO
    * purchase in the 30-minute window must still emit, null-extended.
    * This is the variant that exercises watermark-driven state EVICTION:
    * an unmatched click may only be released once the watermark proves no
    * matching purchase can still arrive, so result completeness is a
    * property of watermark advancement, not just of input exhaustion.
    * A [[withSentinel]] click/purchase pair 3 hours past the end drives
    * the final watermark past every real click's eligibility window, so
    * the memory sink holds the COMPLETE outer result and the batch LEFT
    * JOIN oracle replays it exactly. */
  def clickAttributionOuter(spark: SparkSession, dir: String): DataFrame = {
    val src = withSentinel(spark, dir, 10800000000L, Seq("click", "purchase"))
    toMemory(spark, attributionJoin(src, "leftOuter"), OutputMode.Append(),
      estUserKeys(spark, dir)).filter(col("click_id") =!= -1L)
  }

  /** RESTARTABLE checkpointed aggregation — the exactly-once-across-
    * restart surface a production pipeline leans on. Starts (or RESUMES,
    * if `ckptDir` already holds offsets + state) a file-source stream over
    * `srcDir`, aggregating per event_type into a complete-mode memory
    * sink named `sinkName`.
    *
    * On restart the file source replays no already-committed file (the
    * checkpoint's offset log tracks processed files) and the aggregation
    * state is restored from the state store — so totals after
    * stop → new-files → restart equal one continuous run's, which is
    * exactly what CheckpointRecoverySpec pins. The caller owns stop(). */
  def restartableTotals(
      spark: SparkSession,
      srcDir: String,
      ckptDir: String,
      sinkName: String): StreamingQuery =
    startScoped(spark, EventTypeKeys, rocks = false)(
      spark.readStream
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
        .writeStream
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckptDir)
        .format("memory").queryName(sinkName))
}
