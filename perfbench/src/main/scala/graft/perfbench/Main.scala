package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.SessionMemo
import graft.operators.Relational

/** The benchmark's entry point. One closed-loop client on one session runs
  * the named workload's operations pass after pass until `--seconds` have
  * elapsed, digests every result, checks it against the recorded golden,
  * and prints one JSON object as the last line of standard output.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --goldens <file> --out <dir>
  * Main --record-goldens <file> --data <dir> --out <dir> [--oracle-dump <dir>]
  * }}}
  */
object Main {

  final case class Args(
      workload: String = "", seed: Long = 0L, seconds: Double = 10.0, trace: Boolean = false,
      data: String = "", goldens: String = "", out: String = "",
      recordGoldens: String = "", oracleDump: String = "")

  def parse(argv: Seq[String]): Args = argv.grouped(2).foldLeft(Args()) {
    case (a, Seq("--workload", v)) => a.copy(workload = v)
    case (a, Seq("--seed", v)) => a.copy(seed = v.toLong)
    case (a, Seq("--seconds", v)) => a.copy(seconds = v.toDouble)
    case (a, Seq("--trace", v)) => a.copy(trace = v == "1")
    case (a, Seq("--data", v)) => a.copy(data = v)
    case (a, Seq("--goldens", v)) => a.copy(goldens = v)
    case (a, Seq("--out", v)) => a.copy(out = v)
    case (a, Seq("--record-goldens", v)) => a.copy(recordGoldens = v)
    case (a, Seq("--oracle-dump", v)) => a.copy(oracleDump = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Setups per run; `setup_s` is their median. */
  val Setups = 3
  /** Passes a run makes at least, whatever `--seconds` says: a warm-up
    * pass, whose results are checked but whose times are not reported, and
    * one measured pass; a traced run measures untraced, traced, untraced. */
  def minPasses(trace: Boolean): Int = if (trace) 4 else 2

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session every workload runs on: `local[cores]` with Bench's SQL
    * conf (AQE on, shuffled-hash joins allowed, one shuffle partition per
    * core). Spark's scratch space stays under `tmp`. */
  def session(tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** SQL conf keys printed with every run. */
  val PinnedConf: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.join.preferSortMergeJoin",
    "spark.sql.session.timeZone")

  /** The set-up's warm-up: one digested query, so the session has planned,
    * generated code for and executed a job. Every other first-use cost
    * (MLlib, the RocksDB state-store provider, the workload's own code
    * paths) lands in the warm-up pass, which is checked but not timed. */
  def warmUp(spark: SparkSession, data: String): Unit =
    RowHash.digest(Relational.customerFeatures(spark, data))

  /** Differences between a conf snapshot and the session's conf now. */
  def confDrift(before: Map[String, String], now: Map[String, String]): Seq[String] =
    (before.keySet ++ now.keySet).toSeq.sorted.flatMap { k =>
      (before.get(k), now.get(k)) match {
        case (a, b) if a == b => None
        case (a, b) => Some(s"$k: ${a.getOrElse("<unset>")} -> ${b.getOrElse("<unset>")}")
      }
    }

  /** After an operation: a named failure if the session conf drifted from
    * `before`, with the conf put back so later operations run as pinned. */
  def confGuard(spark: SparkSession, before: Map[String, String]): Option[String] = {
    val now = spark.conf.getAll
    val drift = confDrift(before, now)
    if (drift.isEmpty) None
    else {
      for (k <- now.keySet -- before.keySet) spark.conf.unset(k)
      for ((k, v) <- before if !now.get(k).contains(v)) spark.conf.set(k, v)
      Some(s"session conf drift: ${drift.mkString("; ")}")
    }
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs] $msg")

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def readGoldens(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> f(1) }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val code = try {
      if (a.recordGoldens.nonEmpty) { GoldenRecorder.record(a); 0 } else run(a)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        2
    }
    sys.exit(code)
  }

  final case class OpResult(op: Op, pass: Int, traced: Boolean, seconds: Double, error: Option[String])

  def run(a: Args): Int = {
    val w = Workloads.byName(a.workload)
    require(Files.isDirectory(Paths.get(a.data)), s"input tables not found: ${a.data}")
    val goldens = readGoldens(a.goldens)
    val tmp = s"${a.out}/tmp"
    Files.createDirectories(Paths.get(tmp))

    // ---- set-up, several times; the last session is the one measured ----
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) jvmStartMs * 1000000L else System.currentTimeMillis() * 1000000L
      spark = session(tmp)
      log(s"setup ${i + 1}: session ready")
      warmUp(spark, a.data)
      setups += (System.currentTimeMillis() * 1000000L - t0) / 1e9
      log(s"setup ${i + 1}: warm-up done")
    }
    println(s"conf ${PinnedConf.map(k => s"$k=${spark.conf.getOption(k).getOrElse("<unset>")}").mkString(" ")}")
    println(s"setups_s ${setups.map(s => f"$s%.3f").mkString(" ")}")

    val confAtStart = spark.conf.getAll
    val chains = w.ordered(a.seed)
    println(s"order ${chains.map(_.map(_.name).mkString(">")).mkString(" ")}")
    val tracer = new Tracer(a.trace)
    val rl = new RuntimeListener
    val sl = new StreamListener
    val results = mutable.ArrayBuffer.empty[OpResult]
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val figures = mutable.ArrayBuffer.empty[LayerMetrics.PassFigures]
    val extra = mutable.Map.empty[String, Double]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var pass = 0
    var opId = 0

    // a traced run alternates untraced and traced passes and ends on an
    // untraced one, so every traced pass sits between two untraced ones and
    // the overhead estimate favours neither kind with later, warmer passes
    while (pass < minPasses(a.trace) || System.nanoTime() < deadline || (a.trace && pass % 2 == 1)) {
      val traced = a.trace && pass > 0 && pass % 2 == 0
      SessionMemo.clearAllForSession(spark)
      val ctx = new Ctx(spark, a.data, s"$tmp/pass-$pass")
      val spansBefore = tracer.spans.size
      if (traced) {
        rl.clear(); sl.clear()
        spark.sparkContext.addSparkListener(rl)
        spark.streams.addListener(sl)
      }
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      for (op <- chains.flatten) {
        opId += 1
        val s0 = System.nanoTime()
        val res = runOp(op, ctx, if (traced) tracer else Untraced, opId, goldens)
        val secs = (System.nanoTime() - s0) / 1e9
        val err = (res.left.toOption ++ confGuard(spark, confAtStart)).reduceOption(_ + "; " + _)
        err.foreach(e => println(s"FAILED ${op.name} (pass $pass): $e"))
        results += OpResult(op, pass, traced, secs, err)
        if (traced) res.toOption.foreach(d => extraFigures(op, d, extra))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (pass > 0) passWall += traced -> wall
      if (pass > 0 && !traced) passCpu += (processCpuNs() - cpu0) / 1e9
      if (traced) {
        PerfbenchBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rl)
        spark.streams.removeListener(sl)
        figures += LayerMetrics.ofPass(tracer.spans.drop(spansBefore), rl, sl, cores)
      }
      deleteTree(Paths.get(ctx.scratch))
      log(f"pass $pass${if (pass == 0) " (warm-up)" else if (traced) " (traced)" else ""}: $wall%.3f s")
      pass += 1
    }

    // ---- memory still held once the memos are dropped --------------------
    SessionMemo.clearAllForSession(spark)
    spark.catalog.clearCache()
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val attempted = results.size
    val failed = results.count(_.error.nonEmpty)
    val untraced = results.filter(r => r.pass > 0 && !r.traced)
    val lat = untraced.map(_.seconds).toSeq
    val walls = passWall.filter(!_._1).map(_._2).toSeq
    printOpTable(untraced.toSeq)
    println(f"samples ops=${lat.size} passes=${walls.size} p90_backed=${Stats.backed(lat.size, 0.9)}")

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) Seq(
        ("setup_s", "s", Stats.median(setups.toSeq)),
        ("wall_s", "s", Stats.median(walls)),
        ("op_p50_s", "s", Stats.harrellDavis(lat, 0.5)),
        ("op_p90_s", "s", Stats.harrellDavis(lat, 0.9)),
        ("cpu_s", "s", Stats.median(passCpu.toSeq)),
        ("retained_heap_mb", "MB", retainedMb))
      else {
        val tracedWalls = passWall.filter(_._1).map(_._2).toSeq
        val overhead = Stats.median(tracedWalls) - Stats.median(walls)
        writeTrace(a, w, tracer.spans, figures.toSeq)
        LayerMetrics.report(figures.toSeq, extra.toMap) :+ (("trace.overhead_s", "s", overhead))
      }
    metrics.foreach { case (k, u, v) => println(s"metric $k = $v $u") }
    log("metrics done")
    spark.stop()
    log("session stopped")
    val json = metrics.map { case (k, u, v) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    0
  }

  /** Disabled tracer for untraced passes. */
  private val Untraced = new Tracer(false)

  /** Run one operation and digest its result; Left is the failure. */
  def runOp(op: Op, ctx: Ctx, tracer: Tracer, opId: Int, goldens: Map[String, String]): Either[String, String] =
    try {
      tracer.beginOp(opId)
      val digest = tracer.span(op.name, op.layer) {
        tracer.span("build", op.layer)(op.run(ctx)) match {
          case Computed(d) => d
          case Frame(df) =>
            if (op.split) tracer.span("plan", op.layer)(df.queryExecution.executedPlan)
            tracer.span("exec", op.layer)(RowHash.digest(df))
        }
      }
      goldens.get(op.name) match {
        case Some(g) if g == digest => Right(digest)
        case Some(g) => Left(s"digest $digest != golden $g")
        case None => Left(s"no golden recorded (digest $digest)")
      }
    } catch {
      case e: Throwable => Left(s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }

  /** Layer figures read off an operation's output, in traced passes only. */
  private def extraFigures(op: Op, digest: String, extra: mutable.Map[String, Double]): Unit =
    if (op.name == "q_dedup_ngram_prefix") extra("dedup.pairs_out") = RowHash.rows(digest).toDouble

  private def printOpTable(rs: Seq[OpResult]): Unit =
    rs.groupBy(_.op.name).toSeq.sortBy(_._1).foreach { case (name, xs) =>
      println(f"op $name%-32s layer=${xs.head.op.layer}%-10s n=${xs.size}%2d median_s=${Stats.median(xs.map(_.seconds))}%.4f")
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeTrace(a: Args, w: Workload, spans: Seq[Span], figs: Seq[LayerMetrics.PassFigures]): Unit = {
    val self = Trace.selfTimes(spans)
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", "layer": "${s.layer}", """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_s": ${num(self(s.id) / 1e9)}}"""
    }
    val passes = figs.map(_.sums.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}"))
    val path = Paths.get(a.out, s"trace-${w.name}-seed${a.seed}.json")
    Files.write(path, (s"""{"workload": "${w.name}", "seed": ${a.seed}, "spans": [\n""" +
      lines.mkString(",\n") + "\n],\n\"passes\": [\n" + passes.mkString(",\n") + "\n]}\n").getBytes(UTF_8))
    println(s"trace written to $path")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
