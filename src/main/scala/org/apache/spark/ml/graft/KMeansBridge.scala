package org.apache.spark.ml.graft

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.linalg.{Vector => MLVector}
import org.apache.spark.ml.util.DatasetUtils
import org.apache.spark.mllib.clustering.graft.FusedKMeans
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.{Dataset, Row}

/** Bridge to the `private[ml]` `KMeansModel(uid, parentModel)`
  * constructor and ml's feature-column readers: fits a whole k-scan with
  * [[FusedKMeans]] and hands back the `ml.clustering.KMeansModel`s that
  * `new KMeans().setK(k).setSeed(seed).setFeaturesCol(featuresCol)
  * .fit(dataset)` would return — same centers, same params, same
  * persisted format (`KMeansModel.load` reads them). */
object KMeansBridge {

  def fitScan(
      dataset: Dataset[_],
      featuresCol: String,
      ks: Seq[Int],
      seed: Long): Seq[KMeansModel] = {
    require(ks.nonEmpty, "KMeansBridge.fitScan: empty k range")
    val estimators = ks.map(k => new KMeans().setK(k).setSeed(seed).setFeaturesCol(featuresCol))
    // the estimators differ only in k, so the shared settings come from any
    val est = estimators.head
    est.transformSchema(dataset.schema)
    // the row-solver input of ml's KMeans.fit (weight 1 when weightCol is unset)
    val points = dataset
      .select(DatasetUtils.checkNonNanVectors(DatasetUtils.columnToVector(dataset, featuresCol)))
      .rdd.map { case Row(v: MLVector) => OldVectors.fromML(v) }
    val parents = FusedKMeans.fit(points, ks, seed,
      est.getInitSteps, est.getMaxIter, est.getTol, est.getDistanceMeasure)
    estimators.zip(parents).map { case (e, parent) =>
      new KMeansModel(e.uid, parent).copy(e.extractParamMap()).setParent(e)
    }
  }
}
