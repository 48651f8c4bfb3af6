package graft.operators

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-technique operators: the patterns that keep a 100 TB job healthy,
  * each demonstrated as a correctness-checked query.
  */
object Scale {

  final case class Cust(c_custkey: Long, c_mktsegment: String, c_acctbal: Double)

  /** Scratch directory for every operator that writes and re-reads
    * data (layout rewrites, sink/source round-trips, persisted indexes
    * and sketches): a fresh `createTempDirectory` per call, so two
    * processes or two sessions running the same query never share one.
    * Each is registered for recursive deletion at JVM exit — repeated
    * verify/bench runs used to leak a full table copy per invocation
    * (each directory held events/orders duplicates until the OS cleaned
    * /tmp). One shutdown hook drains a shared list, so registration is
    * O(1) per call and deletion order is irrelevant (paths are
    * independent). A caller whose result is materialized can drop its
    * directory sooner with [[deleteScratch]]. */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach { p =>
        try deleteTree(p)
        catch { case _: Throwable => } // best-effort: exit cleanup only
      }
    }))
  }

  private[graft] def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }

  /** Eagerly delete a [[scratchDir]] whose contents the caller no longer
    * reads (its result is checkpointed), and forget it at exit. */
  private[graft] def deleteScratch(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    deleteTree(p)
    scratchDirs.remove(p)
  }

  /** Recursive delete, children before parents; a missing path is a no-op. */
  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      } finally walk.close()
    }

  /** Salted two-phase aggregation for skewed keys. `event_type` has ~5
    * values over the whole table — a single-phase groupBy sends ALL rows
    * for one type to one reducer. Phase 1 aggregates (event_type, salt)
    * across 16 salt buckets; phase 2 merges the 16 partials per key.
    * Decimal sums → result identical to the unsalted plan (the oracle). */
  def saltedEventTotals(spark: SparkSession, dir: String, saltBuckets: Int = 16): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("salt", pmod(col("event_id"), lit(saltBuckets)))
      .groupBy("event_type", "salt")
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("partial_sum"),
        count(lit(1)).as("partial_n"))
      .groupBy("event_type")
      .agg(sum("partial_sum").cast("double").as("total_value"),
        sum("partial_n").as("n_events"))

  /** Salted SKEW JOIN — the join-side counterpart of
    * [[saltedEventTotals]]. `event_type` has ~5 distinct values, so a
    * plain shuffle join on it sends every row of a hot type to ONE
    * reducer. The fix when BOTH sides are too large to broadcast (at
    * 100 TB a per-key stats table can be billions of rows): salt the
    * probe side (`pmod(event_id, S)`), replicate the build side ×S with
    * an explode, and join on (key, salt) — per-key work now spreads over
    * S reducers. `SHUFFLE_HASH` hint keeps the demo on the shuffle path
    * (AQE would otherwise just broadcast this small build side).
    *
    * Output compares each event to its type's max: `max(value)` is an
    * exact 2-dp double, `max/2` is an exact halving, so the >= comparison
    * is engine-stable and the whole result hash-matches the unsalted
    * oracle join. */
  def saltedSkewJoin(spark: SparkSession, dir: String, saltBuckets: Int = 16): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val typeStats = e.groupBy("event_type")
      .agg(max("value").as("max_value"))
      .withColumn("salt",
        explode(expr(s"sequence(0, ${saltBuckets - 1})")))
    val salted = e.withColumn("salt",
      pmod(col("event_id"), lit(saltBuckets)).cast("int"))
    salted.hint("shuffle_hash")
      .join(typeStats, Seq("event_type", "salt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("value") >= col("max_value") / 2, 1)).as("n_above_half"),
        max("max_value").as("max_value"))
  }

  /** Partitioned-parquet sink + partition-pruned re-read: writes orders
    * partitioned by year, reads back ONLY one partition directory (the
    * pruning every date-ranged 100 TB scan depends on), returns that
    * year's aggregate. */
  def partitionedRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_part")
    Tables.load(spark, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$tmp/orders_by_year")
    val back = spark.read.parquet(s"$tmp/orders_by_year")
      .filter(col("o_year") === 1997) // partition-pruned scan
    back.groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
  }

  /** SMALL-FILE COMPACTION — the lake-hygiene rewrite every 100 TB table
    * needs: a fragmented landing zone (simulated here as a 64-file
    * write) is rewritten into few bounded-size files
    * (`repartition(4)` + `maxRecordsPerFile`), and the compacted copy
    * must answer queries identically. At 100 TB small files are the #1
    * silent scan killer (per-file open cost, tiny row groups, starved
    * vectorized readers); compaction is result-invariant, so the oracle
    * is the same aggregate over the raw table. CompactionSpec pins the
    * mechanics on THIS method's own writes (the `out` root is a
    * parameter precisely so the spec observes the operator's layout,
    * not a re-implementation): the compacted directory `$out/compact`
    * holds ≤ an eighth as many data files as the fragmented
    * `$out/small`. */
  def compactionRoundTrip(spark: SparkSession, dir: String,
      out: String = scratchDir("graft_compact")): DataFrame = {
    val tmp = out
    Tables.load(spark, dir, "events")
      .select("event_id", "event_type", "value")
      .repartition(64) // fragmented landing zone
      .write.mode("overwrite").parquet(s"$tmp/small")
    spark.read.parquet(s"$tmp/small")
      .repartition(4)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 2000000)
      .parquet(s"$tmp/compact")
    spark.read.parquet(s"$tmp/compact")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"),
        min("event_id").as("first_event"), max("event_id").as("last_event"))
  }

  /** SCHEMA-EVOLUTION READ — the mergeSchema contract a long-lived lake
    * table depends on: an early partition written WITHOUT a column and a
    * later partition written WITH it read back as ONE table, the missing
    * column null-filled for old files. The cut is by order year (pre-1998
    * files predate the `o_orderpriority` column); the oracle replays the
    * same evolution as a CASE over the raw table. Schema-merge itself is
    * a footer-only operation — no data rewrite — which is exactly why
    * it's the right evolution mechanism at 100 TB. */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_evo")
    val o = Tables.load(spark, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    o.filter(col("o_year") < 1998)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$tmp/evo/batch=v1")
    o.filter(col("o_year") >= 1998)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/evo/batch=v2")
    spark.read.option("mergeSchema", "true").parquet(s"$tmp/evo")
      .groupBy(coalesce(col("o_orderpriority"), lit("PRE-SCHEMA")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
  }

  /** Morton (Z-order) interleave of two 16-bit dims: bit i of `x` lands
    * at position 2i, bit i of `y` at 2i+1, so a sort by the result
    * clusters rows that are close in BOTH dims. Pure bitwise Columns —
    * stays inside whole-stage codegen. */
  private[graft] def morton16(x: Column, y: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(x.bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(y.bitwiseAND(lit(1L << i)), i + 1))
    }

  /** Z-ORDER LAYOUT + row-group skipping: events are rewritten
    * range-partitioned and sorted by the Morton interleave of
    * (user_id, value), so every parquet file covers a tight rectangle in
    * BOTH dims and a 2-D selective filter prunes most row groups on
    * footer min/max stats alone — the multi-dimensional answer to
    * "partition pruning only works for one column" at 100 TB.
    * `ZorderSpec` measures the effect: the same filter scans a fraction
    * of the rows off the z-sorted copy vs an unsorted copy. The returned
    * aggregate is oracle-checked against the raw table (layout must
    * never change answers). */
  def zorderRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_zorder")
    val e = Tables.load(spark, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
    e.withColumn("z", morton16(
        pmod(col("user_id"), lit(65536L)),
        floor(col("value") * 100).cast("long"))) // 2-dp values fill 16 bits
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(s"$tmp/events_z")
    spark.read.parquet(s"$tmp/events_z")
      .filter(col("user_id").between(3, 9) && col("value").between(50.0, 100.0))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
  }

  /** Bucketed-table co-located join: both fact tables are written
    * `bucketBy(8, <join key>)` + `sortBy`, so the subsequent join reads
    * bucket n against bucket n directly — NO shuffle exchange on either
    * side (asserted on the plan in `BucketedJoinSpec`). This is the
    * persistent-layout answer to repeated fact⋈fact joins at 100 TB:
    * pay the partitioning once at write time, never at read time. The
    * only exchange left in the query is the final small aggregation. */
  /** Who the registered `graft_*_b` tables were last written FOR. NOT a
    * SessionMemo: the catalog table names are global, so a second dir in
    * one session must RE-write (a per-dir memo would happily serve dir-2
    * bytes to a later dir-1 caller). The lock serializes the check+write
    * — bench/verify run queries sequentially, so it is uncontended. */
  @volatile private var bucketWrittenFor: Option[(String, String)] = None
  private val bucketWriteLock = new Object

  /** The `(session id, dir)` the bucketed layout was last written for. */
  private[graft] def bucketedLayoutMarker: Option[(String, String)] =
    bucketWrittenFor

  /** Forget the bucketed layout if `spark` wrote it (next
    * [[bucketedJoin]] in that session re-writes it). Called by
    * [[graft.SessionMemo.clearAllForSession]] so the bench's
    * between-sweep memo clear covers this non-SessionMemo memo too —
    * q_bucketed_join's reported time then includes the layout write it
    * would pay standalone. Another session's marker is left alone: its
    * next call must not re-write the shared `graft_*_b` tables under a
    * concurrent reader. */
  private[graft] def resetBucketedLayoutMemo(spark: SparkSession): Unit = {
    val sid = org.apache.spark.sql.graft.ColumnBridge.sessionUUID(spark)
    bucketWriteLock.synchronized {
      if (bucketWrittenFor.exists(_._1 == sid)) bucketWrittenFor = None
    }
  }

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // The bucketed LAYOUT is written once per (session, dir) — that is
    // bucketing's entire contract ("pay the partitioning once at write
    // time, never at read time"); re-writing identical bucket files on
    // every repeat call measured as pure sink overhead while the query's
    // point, the exchange-free join, runs fresh below each time.
    val sid = org.apache.spark.sql.graft.ColumnBridge.sessionUUID(spark)
    bucketWriteLock.synchronized {
      if (!bucketWrittenFor.contains((sid, dir))) {
        bucketedJoinWrite(spark, dir)
        bucketWrittenFor = Some((sid, dir))
      }
    }
    bucketedJoinRead(spark)
  }

  private def bucketedJoinWrite(spark: SparkSession, dir: String): Unit = {
    val tmp = scratchDir("graft_bucket")
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority")
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$tmp/orders_b").saveAsTable("graft_orders_b")
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4)).as("rev"))
      .groupBy("l_orderkey").agg(sum("rev").as("rev_dec"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$tmp/lineitem_b").saveAsTable("graft_lineitem_b")
  }

  /** The read+join half of [[bucketedJoin]], split out so the spec can
    * inspect its plan for the absence of shuffle exchanges. */
  def bucketedJoinRead(spark: SparkSession): DataFrame =
    spark.table("graft_orders_b")
      .join(spark.table("graft_lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority").as("orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum("rev_dec").cast("double").as("total_rev"))

  /** Analytic-window coverage: ntile, percent_rank, cume_dist, first/last
    * value over per-nation balance ordering (unique-key tiebreak). */
  def analyticWindows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"),
        col("c_nationkey").as("nationkey"),
        ntile(4).over(w).as("quartile"),
        // NOT rounded: percent_rank/cume_dist are exact integer ratios that
        // both engines compute identically; ROUND would DIVERGE at exact
        // decimal midpoints (HALF_UP vs engine-native on doubles).
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first(col("c_custkey")).over(wf).as("richest"),
        last(col("c_custkey")).over(wf).as("poorest"))
  }

  /** Statistics from EXACT decimal moments: stddev and corr derived from
    * Σx, Σy, Σxy, Σx², Σy² (all exact decimal sums of exact-decimal
    * inputs) — the engine's answer to "streaming variance formulas are
    * accumulation-order dependent". Both engines evaluate the identical
    * closed-form over identical doubles. x = order total price,
    * y = line count per order. */
  def statsMoments(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"))
    val o = Tables.load(spark, dir, "orders").select("o_orderkey", "o_totalprice")
    val m = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select(col("o_totalprice").cast(DecimalType(18, 2)).as("x"),
        col("n_lines").cast(DecimalType(18, 2)).as("y"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum("x").cast("double").as("sx"),
        sum("y").cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
    m.select(
      col("n").cast("long").as("n_orders"),
      round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6).as("stddev_price"),
      round(((col("n") * col("sxy") - col("sx") * col("sy"))
        / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
          * sqrt(col("n") * col("syy") - col("sy") * col("sy")))), 6).as("corr_price_lines"))
  }

  /** Ordered collect: per-nation sorted list of top customer keys as a
    * string aggregate (deterministic ORDER BY inside the aggregation). */
  def collectTop(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.load(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(array_join(array_sort(collect_list(col("c_custkey"))), ",").as("top_customers"))
  }

  /** Argmax aggregation with deterministic ties: the orderkey of each
    * customer's most expensive order, via lexicographic struct max —
    * ties on price resolve by the higher orderkey in BOTH engines (unlike
    * bare max_by/arg_max whose tie choice is unspecified). */
  def argMaxOrder(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
      .select(col("custkey"),
        col("m.o_totalprice").as("best_price"),
        col("m.o_orderkey").as("best_orderkey"))

  /** Typed Dataset API coverage: case-class rows, `groupByKey` +
    * `mapGroups` with exact BigDecimal accumulation (a Scala fold over
    * doubles would be accumulation-order dependent; BigDecimal of 2-dp
    * inputs is exact, so the result hash-matches the oracle under any
    * partitioning). */
  def typedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal").as[Cust]
    ds.groupByKey(_.c_mktsegment)
      .mapGroups { (seg, rows) =>
        var n = 0L
        var bal = BigDecimal(0)
        rows.foreach { c => n += 1; bal += BigDecimal(c.c_acctbal) }
        (seg, n, bal.toDouble)
      }
      .toDF("mktsegment", "n_customers", "total_bal")
  }

  /** Custom typed aggregate ([[graft.functions.TypedAggregates.ExactMean]]
    * via `udaf`) applied per event type — the UDAF extension surface,
    * exercised through the same decimal-exact discipline as the built-in
    * aggregates so the oracle hash-matches. */
  def typedUdaf(spark: SparkSession, dir: String): DataFrame = {
    val exactMean = udaf(graft.functions.TypedAggregates.ExactMean)
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(exactMean(col("value")).as("mean_value"),
        count(lit(1)).as("n_events"))
  }

  /** Observable metrics (`df.observe`): row-count and decimal-sum
    * invariants collected DURING the scan by accumulators — the way a
    * 100 TB job tracks data-quality counters without a second pass over
    * the input. The observed values are returned as a one-row frame and
    * hash-match the oracle's direct aggregation. */
  def observedStats(spark: SparkSession, dir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation()
    val li = Tables.load(spark, dir, "lineitem")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty_dec"),
        count(when(col("l_discount") > 0.05, 1)).as("n_high_disc"))
    li.write.mode("overwrite").format("noop").save() // one pass, no output
    val m = obs.get
    import spark.implicits._
    // sum() observes NULL over an empty feed — report the honest zero
    // row instead of an NPE (the binnedRangeJoin empty-feed discipline)
    val qty = Option(m("qty_dec").asInstanceOf[java.math.BigDecimal])
      .map(_.doubleValue()).getOrElse(0.0)
    Seq((m("n_rows").asInstanceOf[Long], qty,
      m("n_high_disc").asInstanceOf[Long]))
      .toDF("n_rows", "sum_qty", "n_high_disc")
  }

  /** Exact interpolated median per segment (Spark `percentile` ==
    * DuckDB `quantile_cont`). */
  def medianBalance(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(round(expr("percentile(c_acctbal, 0.5)"), 4).as("median_bal"),
        round(expr("percentile(c_acctbal, 0.9)"), 4).as("p90_bal"),
        count(lit(1)).as("n"))

  /** Approximate quantiles (`percentile_approx`, Greenwald-Khanna-style
    * mergeable sketch) beside their exact counterparts. At 100 TB exact
    * percentile needs a full sort per group; the sketch is one pass,
    * mergeable map-side, with bounded error — the spec pins
    * |approx − exact| against the p90−p10 spread per group. Rows-only
    * driver check (sketch results aren't cross-engine reproducible). */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        expr("percentile_approx(value, 0.5, 10000)").as("p50_approx"),
        expr("percentile(value, 0.5)").as("p50_exact"),
        expr("percentile_approx(value, 0.9, 10000)").as("p90_approx"),
        expr("percentile(value, 0.9)").as("p90_exact"),
        expr("percentile(value, 0.1)").as("p10_exact"))

  /** [[approxQuantiles]] as a BOUNDED-ERROR ORACLE query (round 16):
    * `percentile_approx(·, p, accuracy)` carries a WORST-CASE rank
    * guarantee — the returned value's rank is within N/accuracy of
    * p·N regardless of data or merge order — checked below in the rank
    * domain (see the body comment). The exact trio is the
    * DuckDB-recomputed half (`QUANTILE_CONT` == Spark `percentile`,
    * proved by q_exact_quantiles); the booleans assert the published
    * contract — a broken sketch fails the t2 hash gate, and because
    * the rank bound is worst-case (not probabilistic) the booleans
    * cannot flake while the sketch is correct. */
  def approxQuantilesBounded(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events").select("event_type", "value")
    val apx = e.groupBy("event_type").agg(
      expr("percentile_approx(value, 0.5, 10000)").as("a50"),
      expr("percentile_approx(value, 0.9, 10000)").as("a90"),
      round(expr("percentile(value, 0.1)"), 4).as("p10_exact"),
      round(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
      round(expr("percentile(value, 0.9)"), 4).as("p90_exact"))
    // the guarantee lives in the RANK domain, so check it there: count
    // the elements strictly below / at-or-below the returned value and
    // assert that interval covers a rank within ε·N of p·N. A value-
    // domain window (exact percentiles at p ± ε) is WRONG at small N:
    // ε·N < 1 row means the window can be narrower than one
    // inter-element gap and the check fails on a correct sketch (the
    // first formulation did, measured). Slack = ε·N + 3 ranks — the
    // published bound plus discreteness (the sketch returns an ELEMENT;
    // p·N itself falls between ranks, and compression may sit the
    // element a couple of ranks off at tiny N).
    val ranks = e.join(broadcast(apx.select("event_type", "a50", "a90")), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("blo50"),
        sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("ble50"),
        sum(when(col("value") < col("a90"), 1L).otherwise(0L)).as("blo90"),
        sum(when(col("value") <= col("a90"), 1L).otherwise(0L)).as("ble90"))
    def rankOk(p: Double, blo: Column, ble: Column): Column = {
      val slack = col("n").cast("double") * (1.0 / 10000) + lit(3.0)
      (blo.cast("double") <= col("n").cast("double") * p + slack) &&
        (ble.cast("double") >= col("n").cast("double") * p - slack)
    }
    ranks.join(apx, "event_type").select(col("event_type"),
      col("p10_exact"), col("p50_exact"), col("p90_exact"),
      rankOk(0.5, col("blo50"), col("ble50")).as("p50_within_bound"),
      rankOk(0.9, col("blo90"), col("ble90")).as("p90_within_bound"))
  }

  /** The exact half of [[approxQuantiles]], split out so it joins the
    * oracled set (Spark `percentile` == DuckDB `quantile_cont`, same
    * interpolation); the sketch half stays rows-only beside it. */
  def exactQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.1)"), 4).as("p10_exact"),
        round(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
        round(expr("percentile(value, 0.9)"), 4).as("p90_exact"),
        count(lit(1)).as("n"))

  /** Deterministic hash sampling: a ~10% sample selected by a Knuth
    * multiplicative hash of the key — reproducible across runs, engines,
    * and partitionings (unlike seeded `sample()`, whose draw depends on
    * partition layout). At 100 TB this is the only sampling that lets two
    * independent jobs agree on the same sample without coordination.
    * Exact-integer arithmetic keeps the oracle bit-identical. */
  /** The engine-stable Knuth multiplicative key hash both samplers
    * draw from — ONE definition, because the two copies had already
    * drifted once (the threshold-truncation fix landed in one). The key
    * is reduced mod a prime BEFORE the multiply so the product never
    * overflows a long (ANSI-safe at any id range — the weightedSample
    * guard). */
  private def custHash: Column =
    pmod((col("c_custkey") % lit(1048573L)) * lit(2654435761L),
      lit(4294967296L))

  def hashSample(spark: SparkSession, dir: String, pct: Int = 10): DataFrame =
    Tables.load(spark, dir, "customer")
      .withColumn("h", custHash)
      // multiply BEFORE dividing (the stratifiedSample lesson, finally
      // propagated here): 2^32/100*pct truncates to 42949672·pct, so
      // pct=100 kept only h < 4294967200 — keys hashing into the top
      // 96-value band were silently dropped from a sample requested as
      // "keep everything" (~2.2e-8 of keys, guaranteed hits at scale)
      .filter(col("h") < lit(4294967296L * pct / 100))
      .select(col("c_custkey").as("custkey"),
        col("c_mktsegment").as("mktsegment"), col("h").as("hash_val"))

  /** Deterministic STRATIFIED sampling — `sampleBy`'s semantics on the
    * same engine-stable hash as [[hashSample]] (seeded `sampleBy` draws
    * depend on partition layout, so it can't be reproduced by another
    * engine or even another run of the same job with different
    * parallelism). Per-stratum rates: a different keep-fraction per
    * market segment, e.g. downsampling the dominant segments of a skewed
    * corpus while keeping all of a rare one — the class-rebalancing step
    * of a training-data pipeline. Exact integer thresholds → DuckDB
    * replays it bit-for-bit. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rates = Map("BUILDING" -> 5L, "AUTOMOBILE" -> 10L, "MACHINERY" -> 20L,
      "FURNITURE" -> 50L, "HOUSEHOLD" -> 100L) // percent kept per stratum
    // multiply BEFORE dividing: 2^32/100*pct truncates to 42949672·pct,
    // so the 100% stratum's threshold was 4294967200 — keys hashing into
    // the top 96-value band were silently dropped from a stratum
    // documented as keeping everything (~2.2e-8 of keys, guaranteed hits
    // at scale). 2^32·pct/100 is exact at pct=100 (and 50).
    val rateCol = rates.foldLeft(lit(0L)) { case (acc, (seg, pct)) =>
      when(col("c_mktsegment") === seg, lit(4294967296L * pct / 100)).otherwise(acc)
    }
    Tables.load(spark, dir, "customer")
      .withColumn("h", custHash)
      .filter(col("h") < rateCol)
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_sampled"))
  }

  /** Range join via binning: classify events into fixed-width value bands.
    * The naive plan is a non-equi theta-join (every row × every band — a
    * broadcast nested loop that dies at scale); computing the band key
    * arithmetically turns it into a map-side equi-join/group-by with no
    * comparison explosion. The bands table stays a real (broadcast) join
    * so band metadata lives in data, not code. */
  def binnedRangeJoin(spark: SparkSession, dir: String, width: Int = 50): DataFrame = {
    // The band dim must cover the data domain or the inner join silently
    // drops out-of-range rows (bit us at sf0.1: values crossed the old
    // static 10-band ceiling — and the SAME silent drop re-appears on a
    // NEGATIVE value if the dim only spans [0, max]: floor(-3.5/50) = -1
    // has no band row). One O(n) scalar reduce sizes BOTH ends — cheap
    // at any scale, and the dim stays a broadcast table. An empty feed
    // yields an empty dim and an empty result, not a null-max NPE.
    val mm = Tables.load(spark, dir, "events")
      .agg(min("value"), max("value")).head()
    val (mnBand, mxBand) =
      if (mm.isNullAt(0)) (0L, -1L)
      else (math.floor(mm.getDouble(0) / width).toLong,
        math.floor(mm.getDouble(1) / width).toLong)
    val bands = spark.range(mnBand, mxBand + 1).select(
      col("id").cast("int").as("band_id"),
      (col("id") * width).cast("double").as("lo"),
      ((col("id") + 1) * width).cast("double").as("hi"))
    val e = Tables.load(spark, dir, "events")
      .withColumn("band_id", floor(col("value") / width).cast("int"))
    e.join(broadcast(bands), "band_id")
      .groupBy("band_id", "lo", "hi")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("band_id"), col("lo"), col("hi"), col("n_events"), col("total_value"))
  }

  /** NATIVE POINT-IN-INTERVAL JOIN over an IRREGULAR band dim — the case
    * [[binnedRangeJoin]]'s arithmetic binning CANNOT express: band widths
    * and starts vary per band (derived from part sizes), bands overlap,
    * and the domain has gaps. Planned by [[graft.plans.IntervalJoin]]:
    * the dim broadcasts, each executor builds one lo-sorted index, and
    * every point binary-searches + prefix-max-prunes its containing
    * intervals — O(n log m + out), where Spark's own plan for the same
    * predicate is BroadcastNestedLoopJoin at O(n·m). The fact side
    * streams with NO shuffle; the one shuffle below is the final tiny
    * per-band aggregate. */
  /** TENANT partition stride for the value-domain interval joins (round
    * 16): spine and probe each derive a tenant id from their key's high
    * component (`key div stride`), and each tenant's intervals live in a
    * disjoint value neighborhood (tenant × domain-width offset). On the
    * driver testdata every key sits below the stride, so the tenant term
    * is exactly ZERO and results are bit-identical to the untenanted
    * formulation (oracle hashes unchanged at sf0.01/0.1). On a
    * key-partitioned multi-tenant corpus — e.g. one staged by
    * [[graft.Stage]], which offsets keys by copy × this same stride — each key
    * population joins only its own tenant's bands, so a 10× corpus means
    * ~10× the pair volume, not the ~100× cross product the r15 artifact
    * measured (97.5× DuckDB-counted pairs — the 10 staged copies'
    * bands all landed in the same bounded [0, 531] range: a staging
    * artifact, not an operator property). This is also the realistic
    * 100 TB shape: a band-lookup dimension grows with the fact's key
    * domain (new tenants/regions/catalogs), not by densifying one fixed
    * value range 10-fold. private[graft]: [[graft.Stage]] keys its
    * staging offsets off THIS constant, so the two strides can never
    * silently drift apart (a wider staging stride with an unchanged
    * tenant divisor would quietly restore the ~100× cross product). */
  private[graft] val TenantStride = 1000000000L

  def intervalJoinBands(spark: SparkSession, dir: String): DataFrame = {
    // probe point = event value in its tenant's value neighborhood;
    // total_value still sums the RAW values (integer-exact offsets:
    // value ≤ 560.21 2-dp + tenant × 1024 stays exact in a double)
    val e = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("value"),
        (col("value") + expr(s"event_id div $TenantStride") * 1024.0).as("pt"))
    // irregular interval spine: ~1/29th of part, start from the key,
    // width = p_size (1..50) — overlapping, gapped, non-arithmetic;
    // lo/hi ride the spine key's tenant offset in the exact integer
    // domain (1024 > the 531 single-tenant domain width)
    val start = (col("p_partkey") % 44) * 11 + (col("p_size") % 9) +
      expr(s"p_partkey div $TenantStride") * 1024
    val bands = Tables.load(spark, dir, "part")
      .filter(col("p_partkey") % 29 === 0)
      .select(col("p_partkey").as("band_id"),
        start.cast("double").as("lo"),
        (start + col("p_size")).cast("double").as("hi"))
    graft.plans.IntervalJoin.pointInInterval(e, bands, "pt", "lo", "hi")
      .groupBy("band_id", "lo", "hi")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
  }

  /** [[intervalJoinBands]] with a SALTED final aggregate — the skew
    * option for the one shuffle the native interval join leaves behind.
    * `pointInInterval` broadcasts the dim so the fact side never
    * shuffles, but the downstream `groupBy(band_id, lo, hi)` can still
    * hot-spot ONE reducer when one band catches most points (a wide
    * validity window over a hot value range at 100 TB). Same two-phase
    * shape as [[saltedEventTotals]]: phase 1 aggregates
    * (band, salt) partials across `saltBuckets` reducers, phase 2
    * merges the bounded partials per band. Decimal partial sums →
    * bit-identical to the unsalted plan (same oracle;
    * IntervalJoinSpec pins frame equality). */
  def intervalJoinBandsSalted(spark: SparkSession, dir: String,
      saltBuckets: Int = 16): DataFrame = {
    // same tenant-scoped spine/probe derivation as [[intervalJoinBands]]
    // (shared oracle — the two must stay expression-identical)
    val e = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("value"),
        (col("value") + expr(s"event_id div $TenantStride") * 1024.0).as("pt"))
    val start = (col("p_partkey") % 44) * 11 + (col("p_size") % 9) +
      expr(s"p_partkey div $TenantStride") * 1024
    val bands = Tables.load(spark, dir, "part")
      .filter(col("p_partkey") % 29 === 0)
      .select(col("p_partkey").as("band_id"),
        start.cast("double").as("lo"),
        (start + col("p_size")).cast("double").as("hi"))
    graft.plans.IntervalJoin.pointInInterval(e, bands, "pt", "lo", "hi")
      .withColumn("salt", pmod(col("event_id"), lit(saltBuckets)))
      .groupBy("band_id", "lo", "hi", "salt")
      .agg(count(lit(1)).as("partial_n"),
        sum(col("value").cast(DecimalType(18, 2))).as("partial_sum"))
      .groupBy("band_id", "lo", "hi")
      .agg(sum("partial_n").as("n_events"),
        sum("partial_sum").cast("double").as("total_value"))
  }

  /** The same native interval join over TIME validity windows — proof the
    * operator generalizes beyond numeric bands: events (points = epoch
    * seconds, fractional) land in irregular promotional windows inside
    * the events month (starts and widths keyed off order keys; order
    * dates themselves predate the events table). Every window bound is
    * an integer-valued double, so the arithmetic is bit-identical in the
    * DuckDB oracle. */
  def intervalJoinWindows(spark: SparkSession, dir: String): DataFrame = {
    // tenant stride in the TIME domain: 32 days (2 764 800 s) > the
    // 31-day events month and every window extent, same zero-on-real-
    // data contract as [[intervalJoinBands]]'s 1024 (see [[TenantStride]])
    val tenantSecs = 2764800.0
    val e = Tables.load(spark, dir, "events")
      .select(col("event_id"),
        (col("ts").cast("double") +
          expr(s"event_id div $TenantStride") * tenantSecs).as("t"),
        col("value"))
    val jan1 = lit(1704067200.0) // 2024-01-01 UTC, the events month
    val lo = jan1 + (col("o_orderkey") % 30) * 86400.0 +
      (col("o_orderkey") % 7) * 3600.0 +
      expr(s"o_orderkey div $TenantStride") * tenantSecs
    val wins = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 701 === 0)
      .select(col("o_orderkey").as("win_id"),
        lo.as("lo"),
        (lo + (col("o_orderkey") % 45 + 2) * 3600.0).as("hi"))
    graft.plans.IntervalJoin.pointInInterval(e, wins, "t", "lo", "hi")
      .groupBy("win_id", "lo", "hi")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
  }

  /** SCD TYPE-2 APPLY — the dimension-history twin of [[mergeUpsert]]:
    * the same CDC feed (per-customer spend + a slice of brand-new keys)
    * lands on `customer` as slowly-changing-dimension version rows
    * instead of in-place updates:
    *   - changed key   → old version CLOSED (valid_to = effective date)
    *                     + new version OPENED (valid_to = null)
    *   - unchanged key → open version survives untouched
    *   - new key       → first version opened at the effective date
    * ONE full-outer shuffle on the key classifies everything; the four
    * row classes are cheap re-reads of that cached join, and at 100 TB
    * the open/closed split writes naturally into separate partitions so
    * current-state readers never scan history. */
  def scd2Apply(spark: SparkSession, dir: String): DataFrame = {
    val eff = "2024-02-01"
    val dim = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_acctbal").as("bal"))
    val spend = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast("double").as("new_bal"))
    val updates = spend.unionAll(
      spend.filter(col("custkey") % 100 === 0)
        .select((-col("custkey")).as("custkey"), col("new_bal")))
    val joined = dim.join(updates, Seq("custkey"), "full_outer")
    Tables.withCached(joined) {
      val isChange = col("bal").isNotNull && col("new_bal").isNotNull &&
        col("bal") =!= col("new_bal")
      val nullTo = lit(null).cast("string")
      val closed = joined.filter(isChange).select(col("custkey"),
        col("bal").as("acctbal"), lit("1990-01-01").as("valid_from"),
        lit(eff).as("valid_to"), lit(0).as("is_current"))
      val opened = joined.filter(isChange).select(col("custkey"),
        col("new_bal").as("acctbal"), lit(eff).as("valid_from"),
        nullTo.as("valid_to"), lit(1).as("is_current"))
      val unchanged = joined
        .filter(col("bal").isNotNull &&
          (col("new_bal").isNull || col("bal") === col("new_bal")))
        .select(col("custkey"), col("bal").as("acctbal"),
          lit("1990-01-01").as("valid_from"), nullTo.as("valid_to"),
          lit(1).as("is_current"))
      val inserted = joined.filter(col("bal").isNull)
        .select(col("custkey"), col("new_bal").as("acctbal"),
          lit(eff).as("valid_from"), nullTo.as("valid_to"),
          lit(1).as("is_current"))
      closed.unionAll(opened).unionAll(unchanged).unionAll(inserted)
    }
  }

  /** DELTA-STYLE MERGE (upsert) expressed relationally — the
    * `MERGE INTO target USING source` semantic without a v2 catalog:
    * a CDC feed (per-customer order spend, plus a deterministic slice of
    * brand-new customer keys) merges into `customer` via ONE full-outer
    * join that classifies every row:
    *   - matched               → UPDATE (balance becomes the fed spend)
    *   - not matched by source → KEEP   (target row unchanged)
    *   - not matched by target → INSERT (new key arrives with its spend)
    * This is exactly the join shape a table format's MERGE compiles to —
    * one shuffle on the merge key, no row-by-row driver logic — so it
    * scales like any other co-partitioned join (skew/bucketing tricks
    * from this file apply unchanged). Fully SQL-expressible → oracle. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val target = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_acctbal").as("old_bal"))
    val spend = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("new_bal"))
    // the "new customers" slice of the feed: every 100th key re-keyed
    // outside the target's key space (negated), as a CDC insert batch
    val source = spend.unionAll(
      spend.filter(col("custkey") % 100 === 0)
        .select((-col("custkey")).as("custkey"), col("new_bal")))
    target.join(source, Seq("custkey"), "full_outer")
      .select(
        col("custkey"),
        when(col("old_bal").isNotNull && col("new_bal").isNotNull, "update")
          .when(col("old_bal").isNull, "insert")
          .otherwise("keep").as("action"),
        col("old_bal"),
        coalesce(col("new_bal"), col("old_bal")).as("merged_bal"))
  }

  /** CDC CHANGELOG APPLY — the compaction a table format runs on a
    * Debezium-style feed: (key, seq, op∈{U,D}, value) where multiple
    * changes per key arrive and only the LATEST (by sequence) may win;
    * a winning D is a TOMBSTONE that deletes the key from the target.
    * This is [[mergeUpsert]]'s missing half: upsert merges assume one
    * change per key and no deletes — real changelogs guarantee neither.
    *
    * Shape: latest-per-key is row_number over (key ORDER BY seq DESC)
    * — per-key window, distributed, then ONE full-outer join on the
    * key. Changelog synthesized deterministically from orders (seq =
    * o_orderkey, every 19th a delete, every 100th key negated as an
    * insert batch); all comparisons integer, values pass through
    * un-arithmetic'd → bit-exact oracle. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val target = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_acctbal").as("old_bal"))
    val feed = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 19 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("new_val"))
    val log = feed.unionAll(
      feed.filter(col("custkey") % 100 === 0)
        .select((-col("custkey")).as("custkey"), col("seq"), col("op"), col("new_val")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("custkey").orderBy(col("seq").desc)
    val latest = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    target.join(latest, Seq("custkey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D") // tombstones delete
      .select(col("custkey"),
        when(col("op").isNull, "keep")
          .when(col("old_bal").isNull, "insert")
          .otherwise("update").as("action"),
        coalesce(col("new_val"), col("old_bal")).as("bal"))
  }

  /** DATA-CONTRACT VALIDATION — the expectations pass a lakehouse runs
    * before a table is promoted (dbt tests / Delta constraints, engine-
    * side): each check is one aggregate, violations counted, the report
    * one row per check. Checks chosen to cover the four contract
    * families: NOT NULL, value domain, key uniqueness, referential
    * integrity. Each check reads only its own columns (pruned scans);
    * the referential check is a broadcast-able anti-join; nothing here
    * is a row-by-row validator — a 100 TB contract run is a handful of
    * columnar aggregates, which is the point of doing it in-engine. */
  def dataContract(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val orders = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    def check(name: String, n: org.apache.spark.sql.Column, df: DataFrame): DataFrame =
      df.agg(n.cast("long").as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"),
          when(col("n_violations") === 0, "pass").otherwise("fail").as("status"))
    check("lineitem_orderkey_not_null",
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)), li)
      .unionAll(check("lineitem_discount_domain",
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)), li))
      .unionAll(check("lineitem_qty_positive",
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)), li))
      .unionAll(check("lineitem_key_unique",
        count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")), li))
      .unionAll(check("orders_custkey_references_customer",
        count(lit(1)),
        orders.join(cust, orders("o_custkey") === cust("c_custkey"), "left_anti")))
      .unionAll(check("orders_date_domain",
        sum(when(col("o_orderdate") < to_date(lit("1992-01-01")) ||
          col("o_orderdate") >= to_date(lit("1999-01-01")), 1L).otherwise(0L)), orders))
  }

  /** REFERENTIAL-INTEGRITY AUDIT — every foreign-key edge of the star
    * schema profiled in one report: child row count, distinct child
    * keys, and orphan rows (children whose key misses the parent).
    * Complements [[dataContract]] (which samples one FK edge among four
    * contract families) by sweeping ALL seven edges — the first thing a
    * lakehouse health check runs after ingest.
    *
    * Scale shape: each edge is a pair of columnar aggregates plus one
    * LEFT ANTI join on the key. The parent side is projected to its key
    * column only before the join, so small dims (nation, region,
    * customer, supplier, part) broadcast and the two big edges
    * (lineitem→orders on orderkey) hash-shuffle 8-byte keys — never
    * payload columns. Nothing is row-by-row; at 100 TB this is seven
    * key-column scans. */
  def fkAudit(spark: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Tables.load(spark, dir, n)
    def edge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame = {
      val stats = child.agg(count(lit(1)).as("n_rows"),
        countDistinct(col(ck)).as("n_keys"))
      val orphans = child.select(col(ck))
        .join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      stats.crossJoin(orphans) // two 1-row aggregates
        .select(lit(name).as("fk_edge"), col("n_rows"), col("n_keys"),
          col("n_orphans"))
    }
    edge("lineitem_orderkey", t("lineitem"), "l_orderkey", t("orders"), "o_orderkey")
      .unionAll(edge("lineitem_partkey", t("lineitem"), "l_partkey", t("part"), "p_partkey"))
      .unionAll(edge("lineitem_suppkey", t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey"))
      .unionAll(edge("orders_custkey", t("orders"), "o_custkey", t("customer"), "c_custkey"))
      .unionAll(edge("customer_nationkey", t("customer"), "c_nationkey", t("nation"), "n_nationkey"))
      .unionAll(edge("supplier_nationkey", t("supplier"), "s_nationkey", t("nation"), "n_nationkey"))
      .unionAll(edge("nation_regionkey", t("nation"), "n_regionkey", t("region"), "r_regionkey"))
      // pin row order structurally (oracle ORDER BY fk_edge): without it the
      // output order is an accident of union branch scheduling that an AQE
      // change could reshuffle under a row-order-sensitive compare
      .orderBy("fk_edge")
  }

  /** RUNTIME BLOOM-FILTER JOIN PRUNING — the row-level runtime-filter
    * half of the 100 TB toolkit (partition pruning's sibling): a
    * selective filter on `orders` builds a bloom filter over o_orderkey
    * that is pushed into the `lineitem` scan side, so most lineitem rows
    * die BEFORE the join shuffle instead of after it. On a 100 TB fact
    * table this is the difference between shuffling the full table and
    * shuffling the ~1% that can possibly match.
    *
    * The default thresholds assume cluster-sized inputs, so the demo
    * scopes them down to fire on the test data; the optimization is
    * result-invariant (same oracle as the plain join) and
    * BloomJoinSpec pins `bloom_filter_agg` + `might_contain` in the plan. The
    * plan is materialized eagerly (localCheckpoint) while the confs are
    * in scope — optimizer rules run at action time, not build time. */
  def bloomPrunedJoin(spark: SparkSession, dir: String): DataFrame =
    GraftSession.withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // At test scale the filtered orders side would broadcast, and the
      // optimizer (correctly) skips bloom injection for broadcast joins —
      // the filter only pays when it kills rows BEFORE a shuffle. Forcing
      // the shuffle join recreates the cluster-scale shape the demo is
      // about (at 100 TB neither side broadcasts).
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // AQE folds the tiny local shuffles into one stage, which makes the
      // injected filter's subquery reuse ambiguous to assert on; the demo
      // disables it for a stable plan (a cluster run would leave it on).
      "spark.sql.adaptive.enabled" -> "false") {
      bloomJoinPlan(spark, dir).localCheckpoint(true)
    }

  /** The un-materialized bloom-join plan — split out so the spec can
    * inspect its executedPlan under the same confs. */
  private[graft] def bloomJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    val hiPriority = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderpriority")
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4)).as("rev"))
    // The join itself is an ordinary shuffled equi-join; the bloom filter
    // is INJECTED by the optimizer on the lineitem side from the filtered
    // orders side — nothing in the query text mentions it.
    li.join(hiPriority, li("l_orderkey") === hiPriority("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum("l_quantity").cast("double").as("sum_qty"),
        sum("rev").cast("double").as("revenue"))
  }

  /** ANALYZE-style COLUMN STATISTICS — the table profile a cost-based
    * optimizer feeds on (`ANALYZE TABLE ... COMPUTE STATISTICS FOR
    * COLUMNS`): per column, exact NDV, null count, typed min/max, and
    * mean value width.
    *
    * Two passes, each scalable:
    *   1. typed min/max — ONE wide agg row (map-side partials, no
    *      distinct), unpivoted to per-column rows and broadcast;
    *   2. NDV/nulls/width — canonicalize each column to a collation-free
    *      string, unpivot, then the TWO-PHASE distinct: groupBy
    *      (col_name, value) with map-side combine first (keys =
    *      Σ per-column NDV, so the shuffle carries distinct values, not
    *      rows), then groupBy(col_name) over that NDV-sized frame. The
    *      naive alternative — COUNT(DISTINCT c1), COUNT(DISTINCT c2), …
    *      in one agg — plans an Expand that multiplies every input row
    *      by the column count and funnels into single-key reducers; at
    *      100 TB the two-phase shape is the difference between a stats
    *      pass and an outage. (A production profile would swap exact NDV
    *      for HLL; the oracle pins the exact path.)
    *
    * Canonical forms are injective per column (decimals fixed at 2 dp,
    * timestamps at date grain) so string NDV == typed NDV, and min/max
    * render through the same forms in both engines. */
  def analyzeStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val canon = li.select(
      col("l_orderkey").cast("string").as("l_orderkey"),
      col("l_quantity").cast(DecimalType(18, 2)).cast("string").as("l_quantity"),
      col("l_returnflag"),
      col("l_linestatus"),
      col("l_shipdate").cast("date").cast("string").as("l_shipdate"))
    val cols = canon.columns
    val mm = li.agg(
        min("l_orderkey").cast("string").as("min_l_orderkey"),
        max("l_orderkey").cast("string").as("max_l_orderkey"),
        min(col("l_quantity").cast(DecimalType(18, 2))).cast("string").as("min_l_quantity"),
        max(col("l_quantity").cast(DecimalType(18, 2))).cast("string").as("max_l_quantity"),
        min("l_returnflag").as("min_l_returnflag"),
        max("l_returnflag").as("max_l_returnflag"),
        min("l_linestatus").as("min_l_linestatus"),
        max("l_linestatus").as("max_l_linestatus"),
        min(col("l_shipdate").cast("date")).cast("string").as("min_l_shipdate"),
        max(col("l_shipdate").cast("date")).cast("string").as("max_l_shipdate"))
      .select(expr(s"stack(${cols.length}, " +
        cols.map(c => s"'$c', min_$c, max_$c").mkString(", ") +
        ") AS (col_name, min_val, max_val)"))
    val unpiv = canon.select(expr(s"stack(${cols.length}, " +
      cols.map(c => s"'$c', $c").mkString(", ") + ") AS (col_name, val)"))
    val perValue = unpiv.groupBy("col_name", "val")
      .agg(count(lit(1)).as("cnt"))
    val stats = perValue.groupBy("col_name").agg(
      count(when(col("val").isNotNull, 1)).as("ndv"),
      coalesce(sum(when(col("val").isNull, col("cnt"))), lit(0L)).as("n_nulls"),
      round(sum(when(col("val").isNotNull, length(col("val")) * col("cnt"))).cast("double") /
        sum(when(col("val").isNotNull, col("cnt"))), 4).as("avg_width"))
    stats.join(broadcast(mm), "col_name")
      .select("col_name", "ndv", "n_nulls", "min_val", "max_val", "avg_width")
  }

  /** JOIN-KEY SKEW PROFILE — the sensor that decides when the salting /
    * AQE-skew-join machinery in this file is worth its cost: per key
    * column, the distinct-key count, row count, heaviest key's row
    * count, the top-1 share (a 0.3 here means one reducer gets 30% of
    * the shuffle), and mean rows per key. Each profile is the two-phase
    * shape — groupBy(key).count with map-side combine, then a 1-row
    * rollup over the NDV-sized frame — so profiling costs one skinny
    * shuffle per column, never a sort. Integer counts; two divisions,
    * rounded. */
  def skewMetrics(spark: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, key: String, name: String): DataFrame =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("ndv"), sum("cnt").as("n_rows"),
          max("cnt").as("max_cnt"))
        .select(lit(name).as("key_col"), col("ndv"), col("n_rows"), col("max_cnt"),
          round(col("max_cnt").cast("double") / col("n_rows"), 6).as("top1_share"),
          round(col("n_rows").cast("double") / col("ndv"), 4).as("avg_cnt"))
    val li = Tables.load(spark, dir, "lineitem")
    profile(li, "l_partkey", "lineitem.l_partkey")
      .unionAll(profile(li, "l_suppkey", "lineitem.l_suppkey"))
      .unionAll(profile(Tables.load(spark, dir, "orders"), "o_custkey", "orders.o_custkey"))
      .unionAll(profile(Tables.load(spark, dir, "events"), "user_id", "events.user_id"))
  }

  /** JOIN CARDINALITY ESTIMATION, the CBO way — and its error. The
    * estimator every cost-based planner runs before picking a join
    * strategy: per-key row counts on both sides, Σ c_a(k)·c_b(k) for the
    * equi-join size, times the filter's selectivity under the
    * INDEPENDENCE ASSUMPTION (filter column uncorrelated with join key).
    * The query emits the estimate NEXT TO the true post-filter join
    * count, so the independence error — the thing that misplans real
    * joins — is measured, not assumed away.
    *
    * Exactness: per-key counts and the true count are integers;
    * selectivity and the estimate are two double operations in fixed
    * order, rounded. Scale shape: the histogram join carries one row
    * per key (never row×row), both aggregates take map-side partials,
    * and the three 1-row frames meet on broadcast crossJoins. */
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders").select("o_orderkey")
    val li = Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
    val ca = orders.groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val cb = li.groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    val base = ca.join(cb, "k")
      .agg(sum(col("ca") * col("cb")).as("base_rows"), count(lit(1)).as("n_join_keys"))
    val sel = li.agg(
      (sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("sel"))
    val actual = li.filter(col("l_quantity") > 25)
      .join(orders, li("l_orderkey") === orders("o_orderkey"))
      .agg(count(lit(1)).as("actual_rows"))
    base.crossJoin(broadcast(sel)).crossJoin(broadcast(actual))
      .select(col("n_join_keys"), col("base_rows"),
        round(col("base_rows").cast("double") * col("sel"), 4).as("est_rows"),
        col("actual_rows"),
        round(col("base_rows").cast("double") * col("sel") /
          col("actual_rows"), 6).as("err_ratio"))
  }
}
