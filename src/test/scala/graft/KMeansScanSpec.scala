package graft

import graft.ml.{FeaturePipeline, KMeansScan}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

class KMeansScanSpec extends SparkSpec {

  lazy val data = FeaturePipeline.prepareData(spark, sf)
  lazy val tmp = java.nio.file.Files.createTempDirectory("kmeans_spec").toString

  test("scan covers k=2..6 with silhouette in [-1,1] and k centers each") {
    val results = KMeansScan.scan(data, 2, 6, tmp)
    assert(results.map(_.k) == Seq(2, 3, 4, 5, 6))
    results.foreach { r =>
      assert(r.silhouette >= -1.0 && r.silhouette <= 1.0, s"k=${r.k} score=${r.silhouette}")
      assert(r.centers.length == r.k)
      assert(r.centers.forall(_.length == 7))
    }
  }

  test("scan is deterministic under pinned seed + partitioning (Q7)") {
    val a = KMeansScan.scan(data, 3, 3, tmp + "/a")
    val b = KMeansScan.scan(data, 3, 3, tmp + "/b")
    assert(a.head.silhouette == b.head.silhouette)
    assert(a.head.centers.flatten.toSeq == b.head.centers.flatten.toSeq)
  }

  test("persisted model reloads with identical centers (S3/S4)") {
    val r = KMeansScan.scan(data, 2, 2, tmp + "/persist").head
    val loaded = KMeansScan.loadModel(r.modelPath)
    assert(loaded.clusterCenters.map(_.toArray.toSeq).toSeq ==
      r.centers.map(_.toSeq).toSeq)
  }

  test("resultsFrame has one row per (k, center) with named feature columns") {
    val results = KMeansScan.scan(data, 2, 3, tmp + "/frame")
    val names = Seq("max_buy", "accuracy", "strength", "log_age",
      "log_avg_buy", "log_min_buy", "log_max_buy")
    val df = KMeansScan.resultsFrame(spark, results, names)
    assert(df.count() == 2 + 3)
    assert(df.columns.toSeq == Seq("k", "score") ++ names)
  }

  /** The fused scan against MLlib's own per-k fit: silhouettes and every
    * center coordinate equal with `==`, and the persisted model carries
    * the estimator's params. This is the tripwire for the MLlib-private
    * kernels the fused fit calls (`FusedKMeans`) on a Spark upgrade. */
  private def assertMatchesMLlib(df: DataFrame, kMin: Int, kMax: Int, dir: String): Unit = {
    val results = KMeansScan.scan(df, kMin, kMax, dir)
    assert(results.map(_.k) == (kMin to kMax))
    results.foreach { r =>
      val est = new KMeans().setK(r.k).setSeed(1).setFeaturesCol("features")
      val ref = est.fit(df)
      val refScore = new ClusteringEvaluator().evaluate(ref.transform(df))
      assert(r.silhouette == refScore, s"k=${r.k}: ${r.silhouette} vs MLlib $refScore")
      assert(r.centers.map(_.toSeq).toSeq == ref.clusterCenters.map(_.toArray.toSeq).toSeq,
        s"k=${r.k} centers differ from MLlib's")
      val loaded = KMeansScan.loadModel(r.modelPath)
      assert((loaded.getK, loaded.getSeed, loaded.getMaxIter, loaded.getTol,
        loaded.getInitMode, loaded.getInitSteps, loaded.getDistanceMeasure,
        loaded.getFeaturesCol) ==
        (est.getK, est.getSeed, est.getMaxIter, est.getTol,
          est.getInitMode, est.getInitSteps, est.getDistanceMeasure,
          est.getFeaturesCol), s"k=${r.k} params")
    }
  }

  test("fused scan is bit-identical to MLlib's per-k fit (k=2..6)") {
    assertMatchesMLlib(data, 2, 6, tmp + "/mllib")
  }

  test("fused single-k scan is bit-identical to MLlib's fit") {
    assertMatchesMLlib(data, 4, 4, tmp + "/mllib_single")
  }

  test("fused scan matches MLlib with fewer distinct points than k") {
    import spark.implicits._
    // 4 distinct points, 24 rows: k >= 4 keeps every distinct k-means||
    // candidate (MLlib's distinct.size <= k branch), k < 4 reduces them
    // with local k-means++
    val points = Seq(
      Vectors.dense(0, 0, 0, 0, 0, 0, 0), Vectors.dense(1, 0, 2, 0, 0, 1, 0),
      Vectors.dense(5, 5, 5, 4, 5, 5, 5), Vectors.dense(-3, 2, 0, 1, -1, 0, 2))
    val df = (0 until 24).map(i => Tuple1(points(i % 4))).toDF("features")
    assertMatchesMLlib(df, 2, 6, tmp + "/mllib_distinct")
    assert(KMeansScan.scan(df, 6, 6, tmp + "/mllib_distinct6").head.centers.length == 4)
  }

  test("an empty frame fails with a named error") {
    val e = intercept[IllegalArgumentException] {
      KMeansScan.scan(data.filter(lit(false)), 2, 3, tmp + "/empty")
    }
    assert(e.getMessage.contains("No samples available"), e.getMessage)
  }

  test("the k=2..6 scan at sf0.001 runs at most 45 Spark jobs") {
    val sc = spark.sparkContext
    data // prepared (and checkpointed) before counting
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      KMeansScan.scan(data, 2, 6, tmp + "/jobs")
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    // the fused fit runs 34 jobs here, per-k MLlib fits 89: the bound
    // trips if the data passes stop being shared across the five k
    assert(jobs.get() <= 45, s"k-scan ran ${jobs.get()} jobs")
  }
}
