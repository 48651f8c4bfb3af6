package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer figures of one traced pass, attributed from listener events.
  *
  * The client runs one operation at a time, so every Spark event belongs
  * to the operation whose top-level span contains its timestamp: a job or
  * stage by its submission time, a task by its stage, a streaming
  * progress event by its trigger time. */
object LayerMetrics {

  /** The per-layer metric names every layer reports. */
  val common: Seq[(String, String)] = Seq(
    "self_s" -> "s", "jobs" -> "count", "tasks" -> "count", "task_failures" -> "count",
    "exec_cpu_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "driver_gap_s" -> "s",
    "task_queue_s" -> "s", "core_util" -> "ratio")

  /** Layer-specific metrics, beyond the common ones. */
  val specific: Seq[(String, String)] = Seq(
    "sql.plan_s" -> "s", "relational.plan_s" -> "s", "breadth.plan_s" -> "s",
    "stream.batches" -> "count", "stream.batch_p50_ms" -> "ms",
    "stream.state_rows_peak" -> "count", "stream.state_mb_peak" -> "MB",
    "stream.commit_s" -> "s", "scale.output_mb" -> "MB", "dedup.pairs_out" -> "count")

  /** Metrics that are maxima over the run rather than per-pass sums. */
  val peaks: Set[String] = Set("stream.state_rows_peak", "stream.state_mb_peak")

  private val MB = 1024.0 * 1024.0

  /** One traced pass: summed figures, plus every micro-batch's trigger
    * duration (for the batch median). */
  final case class PassFigures(sums: Map[String, Double], batchMs: Seq[Double])

  /** Figures for one traced pass. `spans` are the pass's spans; the
    * top-level ones (parent -1) are the operations. */
  def ofPass(
      spans: Seq[Span], rl: RuntimeListener, sl: StreamListener,
      cores: Int): PassFigures = {
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = out(k) = out(k) + v
    val opSpans = spans.filter(_.parent < 0)
    def opAt(ms: Long): Option[Span] =
      opSpans.find(s => ms >= s.start / 1000000L && ms <= (s.end + 999999L) / 1000000L)

    val stages = rl.stages.asScala.toSeq
    val stageOp = stages.flatMap(st => opAt(st.submitMs).map(o => (st.stageId, st.attempt) -> o)).toMap
    val tasks = rl.tasks.asScala.toSeq
    val progress = sl.progress.asScala.toSeq

    for ((layer, self) <- Trace.selfByLayer(spans)) add(s"$layer.self_s", self)
    for (s <- spans if s.name == "plan") add(s"${s.layer}.plan_s", s.dur / 1e9)

    for (op <- opSpans) {
      val l = op.layer
      val wall = op.dur / 1e9
      val lo = op.start / 1000000L
      val hi = (op.end + 999999L) / 1000000L
      val myStages = stages.filter(st => stageOp.get((st.stageId, st.attempt)).contains(op))
      val stageBusy = Trace.covered(Trace.clip(myStages.map(s => (s.submitMs, s.endMs)), lo, hi)) / 1e3
      val submit = myStages.map(s => (s.stageId, s.attempt) -> s.submitMs).toMap
      val myTasks = tasks.filter(t => stageOp.get((t.stageId, t.attempt)).contains(op))
      val jobs = rl.jobs.asScala.count(j => opAt(j.submitMs).contains(op))
      val runS = myTasks.map(t => (t.finishMs - t.launchMs) / 1e3).sum
      for (layer <- Seq(l, "spark")) {
        add(s"$layer.jobs", jobs)
        add(s"$layer.tasks", myTasks.size)
        add(s"$layer.task_failures", myTasks.count(_.failed))
        add(s"$layer.exec_cpu_s", myTasks.map(_.cpuNs).sum / 1e9)
        add(s"$layer.shuffle_mb", myTasks.map(_.shuffleWriteBytes).sum / MB)
        add(s"$layer.spill_mb", myTasks.map(_.spillBytes).sum / MB)
        add(s"$layer.driver_gap_s", wall - stageBusy)
        add(s"$layer.task_queue_s",
          myTasks.map(t => math.max(0L, t.launchMs - submit.getOrElse((t.stageId, t.attempt), t.launchMs))).sum / 1e3)
        add(s"$layer.core_util_num", runS)
        add(s"$layer.core_util_den", wall * cores)
      }
      add("spark.self_s", stageBusy)
      if (l == "scale") add("scale.output_mb", myTasks.map(_.outputBytes).sum / MB)
      if (l == "stream") {
        val mine = progress.filter(p => opAt(p.tsMs).contains(op))
        add("stream.batches", mine.size)
        add("stream.commit_s", mine.map(_.commitMs).sum / 1e3)
        batchMs ++= mine.map(_.triggerMs.toDouble)
        out("stream.state_rows_peak") =
          math.max(out("stream.state_rows_peak"), (0L +: mine.map(_.stateRows)).max.toDouble)
        out("stream.state_mb_peak") =
          math.max(out("stream.state_mb_peak"), (0L +: mine.map(_.stateBytes)).max / MB)
      }
    }
    PassFigures(out.toMap, batchMs.toSeq)
  }

  /** Fold per-pass figures into the reported per-layer metrics: sums are
    * averaged per traced pass, peaks take the maximum, `core_util` is busy
    * task time over wall time times cores. */
  def report(figs: Seq[PassFigures], extra: Map[String, Double]): Seq[(String, String, Double)] = {
    val passes = figs.map(_.sums)
    val batchMs = figs.flatMap(_.batchMs)
    val n = math.max(1, passes.size)
    def mean(k: String): Double = passes.map(_.getOrElse(k, 0.0)).sum / n
    val layerRows = for {
      layer <- Workloads.layers
      (m, unit) <- common
    } yield {
      val k = s"$layer.$m"
      val v =
        if (m == "core_util") {
          val den = passes.map(_.getOrElse(s"$layer.core_util_den", 0.0)).sum
          if (den > 0) passes.map(_.getOrElse(s"$layer.core_util_num", 0.0)).sum / den else 0.0
        } else mean(k)
      (k, unit, v)
    }
    val specificRows = specific.map { case (k, unit) =>
      val v =
        if (peaks(k)) (0.0 +: passes.map(_.getOrElse(k, 0.0))).max
        else if (k == "stream.batch_p50_ms") { if (batchMs.isEmpty) 0.0 else Stats.median(batchMs) }
        else extra.getOrElse(k, mean(k))
      (k, unit, v)
    }
    layerRows ++ specificRows
  }
}
