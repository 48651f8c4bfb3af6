package graft.ml

import graft.GraftSession

/** Report/notification seam. The reference emails a PDF via local SMTP
  * (`/root/reference/utils/reports.py:148-179`,
  * `/root/reference/pyspark_kmeans.py:29-51`) — an ops concern outside the
  * engine (SURVEY.md §2.1 S7-S9), so it is modeled as a trait with a
  * logging default; a real deployment plugs in SMTP/webhook. */
trait Notifier {
  def success(subject: String, attachment: Option[String]): Unit
  def failure(subject: String, error: Throwable): Unit
}

object LogNotifier extends Notifier {
  def success(subject: String, attachment: Option[String]): Unit =
    println(s"[notify] OK: $subject attachment=${attachment.getOrElse("-")}")
  def failure(subject: String, error: Throwable): Unit =
    println(s"[notify] FAILED: $subject error=${error.getMessage}")
}

/** End-to-end orchestration mirroring `/root/reference/pyspark_kmeans.py:1-55`:
  * prepare features → k-scan 2..6 → write centers+scores CSV → notify;
  * failure → failure notification; `finally` stops the session; exit code
  * stays 0 on failure (quirk Q8 — reproduced deliberately).
  *
  * Usage: runMain graft.ml.KMeansScanJob [sfDir] [outDir]
  */
object KMeansScanJob {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_kmeans"
    val spark = GraftSession.local()
    val notifier: Notifier = LogNotifier
    try {
      new java.io.File(outDir).mkdirs()
      val data = FeaturePipeline.prepareData(spark, sfDir)
      val featureNames = FeaturePipeline.featureNames(spark, sfDir).toSeq
      val results = KMeansScan.scan(data, 2, 6, s"$outDir/tmp_models")
      val frame = KMeansScan.resultsFrame(spark, results, featureNames)
      val csv = s"$outDir/clustering_results.csv"
      KMeansScan.saveResultsCsv(frame, csv)
      results.foreach(r =>
        println(f"[kmeans] k=${r.k} silhouette=${r.silhouette}%.4f"))
      notifier.success("KMeans scanning report", Some(csv))
    } catch {
      case e: Throwable => notifier.failure("KMeans scanning FAILED", e)
    } finally {
      spark.stop() // Q8: exit code remains 0 even on failure
    }
  }
}
