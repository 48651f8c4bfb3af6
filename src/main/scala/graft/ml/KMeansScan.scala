package graft.ml

import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.ml.evaluation.graft.FusedSilhouette
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.graft.KMeansBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K-scan driver mirroring `kmeans_scan` / `save_clustering_results` /
  * `load_kmeans_model` (`/root/reference/utils/kmeans_utils.py:80-143`).
  *
  * Per k in [kMin, kMax] (reference: 2..6, `/root/reference/pyspark_kmeans.py:23`):
  * fit KMeans(seed=1) on `features`, score silhouette (squared-Euclidean
  * default, `/root/reference/utils/kmeans_utils.py:85,105`), collect the k
  * centers (tiny — k rows of 7 doubles per fit), persist the
  * model (`/root/reference/utils/kmeans_utils.py:107`).
  *
  * Scale note: each Lloyd iteration is one single-stage job for every k
  * still running; the centers (Σk × 7 doubles) are broadcast out and
  * per-partition partial sums of the same size come back. Nothing here
  * grows with data size on the driver.
  */
object KMeansScan {

  final case class ScanResult(
      k: Int,
      silhouette: Double,
      centers: Array[Array[Double]],
      modelPath: String)

  // per-(session, dir) like prepareData: scan results carry model paths
  // whose frames were fit under one session
  private val scanCache = new graft.SessionMemo[Seq[ScanResult]]()

  /** Memoized full k=2..6 scan per sf dir (deterministic under the pinned
    * seed, so re-running it would reproduce identical results — the three
    * report/scan/best-k queries share one scan like one pipeline run). */
  def scanCached(spark: SparkSession, dir: String): Seq[ScanResult] =
    scanCache.getOrCompute(spark, dir) {
      val data = FeaturePipeline.prepareData(spark, dir)
      // shutdown-hook-cleaned scratch (Scale.scratchDir), NOT a bare
      // createTempDirectory: each new session's scan wrote 5 models into
      // a dir nothing ever deleted — unbounded /tmp growth on a
      // long-lived host (the reference rmtree's its tmp dir,
      // kmeans_utils.py:95-98); deletion must wait for JVM exit because
      // q_kmeans_assignments reloads the persisted model within a session
      val tmp = graft.operators.Scale.scratchDir("graft_models")
      scan(data, 2, 6, tmp)
    }

  /** All k are fit together by [[org.apache.spark.ml.graft.KMeansBridge]]:
    * MLlib's own k-means|| and Lloyd kernels, one single-stage job over
    * the cached features per step for every k, each model bit-identical
    * to MLlib's per-k `KMeans.fit` with the same seed (KMeansScanSpec
    * pins it). All silhouettes are then scored together by
    * [[org.apache.spark.ml.evaluation.graft.FusedSilhouette]]: one
    * single-stage stats job and one single-stage scoring job for every
    * k, each score bit-identical to MLlib's silhouette evaluator. The
    * model saves start right after the fit, on a pool of one thread per
    * model owned by this call, and overlap the silhouette jobs; a failed
    * save fails the scan with its own exception. */
  def scan(
      data: DataFrame,
      kMin: Int = 2,
      kMax: Int = 6,
      modelDir: String = "tmp_models",
      seed: Long = 1L): Seq[ScanResult] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    val models = KMeansBridge.fitScan(data, "features", kMin to kMax, seed)
    val pool = Executors.newFixedThreadPool(models.size)
    try {
      val saves = models.map { model =>
        val path = s"$modelDir/model_w_k_${model.getK}"
        pool.submit(new Callable[String] {
          def call(): String = { model.write.overwrite().save(path); path }
        })
      }
      val scores = FusedSilhouette.squaredEuclidean(data, "features", models)
      models.zip(scores).zip(saves).map { case ((model, score), save) =>
        val path = try save.get() catch { case e: ExecutionException => throw e.getCause }
        ScanResult(model.getK, score, model.clusterCenters.map(_.toArray), path)
      }
    } finally pool.shutdown()
  }

  /** Reload a persisted model (`/root/reference/utils/kmeans_utils.py:133-143`). */
  def loadModel(path: String): KMeansModel = KMeansModel.load(path)

  /** Centers+scores as a DataFrame — the `clustering_results.csv` shape
    * (`/root/reference/utils/kmeans_utils.py:123-130`): one row per
    * (k, center), columns k, score, f0..f6. */
  def resultsFrame(
      spark: SparkSession,
      results: Seq[ScanResult],
      featureNames: Seq[String]): DataFrame = {
    import spark.implicits._
    val rows = for {
      r <- results
      center <- r.centers
    } yield (r.k, r.silhouette, center)
    widenCenters(rows.toDF("k", "score", "center"), featureNames)
  }

  /** Widen a frame's `center: array<double>` into one 6-dp-rounded column
    * per feature — ONE definition shared by [[resultsFrame]] and
    * [[Report.reportTable]] (round-16 review: two inline copies of this
    * fold could silently diverge the report's feature values from the
    * CSV the reference report reads). 6 dp is the repo float discipline:
    * raw doubles would hash-flake across BLAS/JVM variants if a driver
    * row-compare ever lands here. */
  private[ml] def widenCenters(
      base: DataFrame, featureNames: Seq[String]): DataFrame =
    featureNames.zipWithIndex.foldLeft(base) { case (df, (name, i)) =>
      df.withColumn(name, round(col("center").getItem(i), 6))
    }.drop("center")

  /** Driver CSV sink analog (S5): tiny driver-resident result set. */
  def saveResultsCsv(df: DataFrame, path: String): Unit = {
    val cols = df.columns
    val pw = new java.io.PrintWriter(path)
    try {
      pw.println(cols.mkString(","))
      df.collect().foreach(r => pw.println(cols.indices.map(r.get(_).toString).mkString(",")))
    } finally pw.close()
  }

  /** Rows-only verify query: run the full scan on the given sf dir and
    * return the (k, score, rounded centers) frame. Deterministic under the
    * pinned seed + coalesce(4) partitioning (quirk Q7). */
  def kmeansQuery(spark: SparkSession, dir: String): DataFrame =
    resultsFrame(spark, scanCached(spark, dir),
      FeaturePipeline.featureNames(spark, dir).toSeq)

  /** Rows-only verify query: per-customer cluster assignment at k=4 —
    * RELOADED from the model the k-scan already fit and persisted (same
    * seed, same cached features ⇒ identical model; KMeansScanSpec pins
    * reload-equality). Refitting here re-ran the whole Lloyd iteration
    * per call, and it also exercises the model-SOURCE path (S4) on a
    * driver-checked query. */
  def assignmentsQuery(spark: SparkSession, dir: String): DataFrame = {
    val data = FeaturePipeline.prepareData(spark, dir)
    val model = loadModel(scanCached(spark, dir)
      .find(_.k == 4)
      .getOrElse(throw new IllegalStateException("k-scan lacks k=4"))
      .modelPath)
    model.transform(data)
      .select(col("custkey"), col("prediction").as("cluster"),
        // scalar feature digest — array columns break downstream
        // row-compare tooling; full vectors are spec-tested
        round(aggregate(vector_to_array(col("features")),
          lit(0.0), (acc, x) => acc + x * x), 6).as("feat_norm2"))
  }
}
