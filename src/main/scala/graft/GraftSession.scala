package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of every main: [[Bench]], [[Verify]],
  * [[Explain]], [[Smoke]], [[Stage]] and [[graft.ml.KMeansScanJob]] all
  * build their session here, so the correctness dump, the benchmark and
  * the plan audits run one SQL conf and therefore the same physical
  * plans. */
object GraftSession {

  /** `local[cpus]` with `cpus` from SPARK_GRAFT_CPUS, else every
    * available processor; as many shuffle partitions as cores; AQE on
    * (runtime coalescing + skew-join handling — the settings a cluster
    * run would use, minus size-based shuffle partition counts). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // let the planner pick shuffled-hash join where its size conditions
      // hold instead of always sort-merge; join strategy never changes
      // results. Executed post-AQE plans show the flag is a no-op at
      // sf0.1 (TPC-H q2/q11/q16/q21 keep the same final joins either
      // way); it stays so every main plans alike, not for a measured win.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with the given SQL confs set, restoring previous values
    * after — the conf-hygiene analog of [[graft.Tables.withCached]]. The
    * previous values come from `getAll`, which holds only explicitly set
    * keys: a key that sat at its default is unset again afterwards, not
    * pinned to the default's value (`getOption` answers the default). */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
