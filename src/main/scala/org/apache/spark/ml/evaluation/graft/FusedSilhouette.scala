package org.apache.spark.ml.evaluation.graft

import scala.collection.mutable

import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.ml.evaluation.SquaredEuclideanSilhouette
import org.apache.spark.ml.evaluation.SquaredEuclideanSilhouette.ClusterStats
import org.apache.spark.ml.linalg.{BLAS, DenseVector, Vector, Vectors}
import org.apache.spark.ml.util.DatasetUtils
import org.apache.spark.sql.{Dataset, Row}

/** The squared-Euclidean silhouette of several k-means models over one
  * frame in two single-stage jobs, each score bit-identical to
  * `new ClusteringEvaluator().evaluate(model.transform(dataset))`
  * (silhouette, squaredEuclidean, no weight column). MLlib's evaluator
  * runs three jobs per model, two of them with a shuffle. This bridge
  * calls MLlib's own `private[evaluation]` kernels
  * (`SquaredEuclideanSilhouette.ClusterStats`,
  * `computeSilhouetteCoefficient`), hence this package.
  *
  * Why every score is bit-identical to the evaluator's:
  *   - predictions come from the model's `predict`, which its
  *     `transform` calls, and the squared norm is the evaluator's
  *     `math.pow(Vectors.norm(v, 2.0), 2.0)`;
  *   - the stats job folds each partition's points per (model,
  *     prediction) with `aggregateByKey`'s `seqOp` arithmetic, each key
  *     starting from its zero; the driver merges the partials with the
  *     `combOp` arithmetic in partition-index order, the order in which
  *     the shuffle reducer combines them;
  *   - the scoring job sums `score·weight` and `weight` in row order per
  *     partition, and the driver adds the partition sums in partition
  *     order before dividing: the association order of the evaluator's
  *     `sum(score·w) / sum(w)` aggregate (a partial per partition, merged
  *     in map-output order).
  *
  * Scale note: the driver receives, per partition, Σk·kᵢ·(d + 2) doubles
  * from the stats job and 2 doubles per model from the scoring job. */
object FusedSilhouette {

  def squaredEuclidean(
      dataset: Dataset[_],
      featuresCol: String,
      models: Seq[KMeansModel]): Seq[Double] = {
    val sc = dataset.sparkSession.sparkContext
    val ms = models.toArray
    val n = ms.length
    val points = dataset
      .select(DatasetUtils.columnToVector(dataset, featuresCol))
      .rdd.map { case Row(v: Vector) => v }
    val weight = 1.0 // the evaluator's weight column when none is set

    val statsPartials = points.mapPartitions { rows =>
      val acc = Array.fill(n)(mutable.HashMap[Double, (DenseVector, Double, Double)]())
      rows.foreach { features =>
        val squaredNorm = math.pow(Vectors.norm(features, 2.0), 2.0)
        var a = 0
        while (a < n) {
          val cluster = ms(a).predict(features).toDouble
          val (featureSum, squaredNormSum, weightSum) =
            acc(a).getOrElse(cluster, (Vectors.zeros(features.size).toDense, 0.0, 0.0))
          BLAS.axpy(weight, features, featureSum)
          acc(a)(cluster) = (featureSum, squaredNormSum + squaredNorm * weight, weightSum + weight)
          a += 1
        }
      }
      Iterator.single(acc.map(_.toArray))
    }.collect()

    val clusterStats = Array.tabulate(n) { a =>
      val merged = mutable.HashMap[Double, (DenseVector, Double, Double)]()
      statsPartials.foreach { partition =>
        partition(a).foreach { case (cluster, (featureSum2, squaredNormSum2, weightSum2)) =>
          merged.get(cluster) match {
            case None => merged(cluster) = (featureSum2, squaredNormSum2, weightSum2)
            case Some((featureSum1, squaredNormSum1, weightSum1)) =>
              BLAS.axpy(1.0, featureSum2, featureSum1)
              merged(cluster) =
                (featureSum1, squaredNormSum1 + squaredNormSum2, weightSum1 + weightSum2)
          }
        }
      }
      val stats = merged.toMap.transform { case (_, (featureSum, squaredNormSum, weightSum)) =>
        ClusterStats(featureSum, squaredNormSum, weightSum)
      }
      assert(stats.size > 1, "Number of clusters must be greater than one.")
      stats
    }

    val bcStats = clusterStats.map(sc.broadcast(_))
    val scorePartials = try {
      points.mapPartitions { rows =>
        val scoreSums = new Array[Double](n)
        val weightSums = new Array[Double](n)
        rows.foreach { features =>
          val squaredNorm = math.pow(Vectors.norm(features, 2.0), 2.0)
          var a = 0
          while (a < n) {
            val cluster = ms(a).predict(features).toDouble
            val score = SquaredEuclideanSilhouette.computeSilhouetteCoefficient(
              bcStats(a), features, cluster, weight, squaredNorm)
            scoreSums(a) += score * weight
            weightSums(a) += weight
            a += 1
          }
        }
        Iterator.single((scoreSums, weightSums))
      }.collect()
    } finally bcStats.foreach(_.destroy())

    (0 until n).map { a =>
      var scoreSum = 0.0
      var weightSum = 0.0
      scorePartials.foreach { case (scores, weights) =>
        scoreSum += scores(a)
        weightSum += weights(a)
      }
      scoreSum / weightSum
    }
  }
}
