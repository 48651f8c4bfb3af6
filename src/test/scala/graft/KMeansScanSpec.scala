package graft

import graft.ml.{FeaturePipeline, KMeansScan}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.evaluation.graft.FusedSilhouette
import org.apache.spark.ml.graft.KMeansBridge
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

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

  /** sf0.001's features hashed into 7 partitions by one of 6 keys and
    * checkpointed: some partition is empty and some lacks a cluster, so
    * the driver-side merges of the Lloyd and silhouette partials skip
    * partitions. */
  private lazy val sevenParts = data.repartition(7, col("custkey") % 6).localCheckpoint()

  test("fused scan matches MLlib over 7 partitions, one empty and some lacking a cluster") {
    val sizes = sevenParts.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length == 7 && sizes.contains(0), s"partition sizes ${sizes.toSeq}")
    val ref = new KMeans().setK(6).setSeed(1).setFeaturesCol("features").fit(sevenParts)
    val seen = ref.transform(sevenParts).select("prediction").rdd
      .mapPartitions(rows => Iterator(rows.map(_.getInt(0)).toSet)).collect()
    assert(seen.exists(s => s.nonEmpty && s.size < 6), s"clusters per partition ${seen.toSeq}")
    assertMatchesMLlib(sevenParts, 2, 6, tmp + "/mllib_seven")
  }

  test("fused scan is bit-identical to MLlib's per-k fit at sf0.01") {
    val sf01 = FeaturePipeline.prepareData(spark, s"$sfBase/sf0.01")
    assert(sf01.count() == 150)
    assertMatchesMLlib(sf01, 2, 6, tmp + "/mllib_sf01")
  }

  test("a one-cluster model fails the silhouette with the evaluator's named error") {
    import spark.implicits._
    val df = (0 until 12).map(_ => Tuple1(Vectors.dense(1, 2, 3, 4, 5, 6, 7))).toDF("features")
    val e = intercept[AssertionError] {
      KMeansScan.scan(df, 2, 2, tmp + "/one_cluster")
    }
    assert(e.getMessage.contains("Number of clusters must be greater than one"), e.getMessage)
  }

  test("the fit and the silhouettes submit no shuffle stage") {
    val stages = recorded {
      val models = KMeansBridge.fitScan(data, "features", 2 to 6, 1L)
      FusedSilhouette.squaredEuclidean(data, "features", models)
    }.stages
    assert(stages.nonEmpty)
    val shuffles = stages.filter(ListenerBridge.writesShuffle).map(_.name)
    assert(shuffles.isEmpty, s"shuffle stages: $shuffles")
  }

  test("a scan whose model dir cannot be written fails with the save's exception") {
    val blocker = java.nio.file.Files.createTempFile("kmeans_spec_blocker", "")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // run off the test thread, so a hung scan fails the bound below
    val attempt = Future(KMeansScan.scan(data, 2, 6, blocker.toString))
    val e = intercept[Exception](Await.result(attempt, 3.minutes))
    java.nio.file.Files.delete(blocker)
    assert(!e.isInstanceOf[java.util.concurrent.TimeoutException], "the scan hung")
    // Hadoop's own "Parent path is not a directory" error, not a wrapper
    assert(e.isInstanceOf[java.io.IOException] && e.getMessage.contains(blocker.toString),
      e.toString)
  }

  test("the k=2..6 scan at sf0.001 runs at most 24 Spark jobs") {
    val jobs = recorded(KMeansScan.scan(data, 2, 6, tmp + "/jobs")).jobs
    // the scan runs 21 jobs here: the fit, two silhouette jobs for all
    // five k, and the saves (34 with one MLlib evaluator per k). The
    // bound trips if the fit's data passes or the silhouette jobs stop
    // being shared across the five k
    assert(jobs <= 24, s"k-scan ran $jobs jobs")
  }

  /** Bench's recorder around `body`, read after the bus drains; `data` is
    * prepared (and checkpointed) before recording starts. */
  private def recorded(body: => Any): StageRecorder = {
    val sc = spark.sparkContext
    data
    ListenerBridge.waitUntilEmpty(sc)
    val rec = new StageRecorder
    sc.addSparkListener(rec)
    try { body; ListenerBridge.waitUntilEmpty(sc) } finally sc.removeSparkListener(rec)
    rec
  }
}
