package org.apache.spark.mllib.clustering.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.mllib.clustering.{DistanceMeasure, KMeansModel, LocalKMeans, VectorWithNorm}
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.mllib.linalg.BLAS.axpy
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.random.XORShiftRandom

/** MLlib's k-means|| initialisation and Lloyd loop run for several k in
  * one pass over the data per step — the same fits `KMeans.fit` makes
  * one k at a time, with the same kernels (`VectorWithNorm`,
  * `DistanceMeasure`, `LocalKMeans`, `XORShiftRandom`, which are
  * `private[clustering]`/`private[spark]`, hence this package).
  *
  * Why every model is bit-identical to MLlib's row solver
  * (`KMeans.runAlgorithmWithWeight` + `initKMeansParallel`):
  *   - all k share the seed, so they share the `takeSample` first center
  *     and the step-0 costs;
  *   - a partition's `XORShiftRandom(seed ^ step << 16 ^ index)` draws
  *     exactly one double per point whatever k is, so one draw tests
  *     every k's `2·cost·k / Σcost` threshold;
  *   - each cost sum is the same `fold(0.0)(_ + _)` per k;
  *   - Lloyd partial sums are keyed (k slot, cluster) and merge on the
  *     driver with the same `axpy`, in partition-index order: the order
  *     in which MLlib's `reduceByKey` reducer combines them;
  *   - each k stops at its own convergence and drops out of later passes.
  *
  * What is shared: each init step's cost-sum and candidate jobs, the
  * cluster-count job and each Lloyd iteration's job run once for all k
  * (MLlib runs them once per k), each Lloyd job is one stage (MLlib's
  * `reduceByKey` job is two), and there is no solver probe or
  * cluster-size job; no job of the fit shuffles. ml's `KMeans` `auto`
  * solver picks this row solver for every frame with at least as many
  * rows as features; its blocked solver (fewer rows than features) is
  * not reproduced.
  * `KMeansScanSpec` pins the equality against `ml.clustering.KMeans.fit`
  * and is the tripwire for these private kernels on a Spark upgrade. */
object FusedKMeans {

  /** Fit one model per entry of `ks` on `points` (weight 1 each), with
    * k-means|| init (`initSteps` steps), at most `maxIterations` Lloyd
    * iterations and convergence tolerance `epsilon`. */
  def fit(
      points: RDD[Vector],
      ks: Seq[Int],
      seed: Long,
      initSteps: Int,
      maxIterations: Int,
      epsilon: Double,
      distanceMeasure: String): Seq[KMeansModel] = {
    val measure = DistanceMeasure.decodeFromString(distanceMeasure)
    val data = points.map(v => new VectorWithNorm(v, Vectors.norm(v, 2.0), 1.0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val init = initKMeansParallel(data, ks.toArray, seed, initSteps, measure)
      lloyd(data, init, maxIterations, epsilon, measure).map { case (centers, cost, iters) =>
        new KMeansModel(centers.map(_.vector), distanceMeasure, cost, iters)
      }
    } finally data.unpersist()
  }

  /** k-means|| for every k: `takeSample`, then per step one cost-sum job
    * and one candidate job for all k, then one cluster-count job for the
    * k whose distinct candidates outnumber k, reduced by local k-means++. */
  private def initKMeansParallel(
      data: RDD[VectorWithNorm],
      ks: Array[Int],
      seed: Long,
      initSteps: Int,
      measure: DistanceMeasure): Array[Array[VectorWithNorm]] = {
    val sc = data.sparkContext
    val n = ks.length
    var costs = data.map(_ => Array.fill(n)(Double.PositiveInfinity))

    val sampleSeed = new XORShiftRandom(seed).nextInt()
    val sample = data.takeSample(false, 1, sampleSeed)
    require(sample.nonEmpty, s"No samples available from $data")

    val first = sample.head.toDense
    val candidates = Array.fill(n)(ArrayBuffer(first))
    var newCenters = Array.fill(n)(Array(first))
    val broadcasts = ArrayBuffer[Broadcast[_]]()
    var step = 0
    while (step < initSteps) {
      val bcNewCenters = sc.broadcast(newCenters)
      broadcasts += bcNewCenters
      val preCosts = costs
      costs = data.zip(preCosts).map { case (point, cost) =>
        val centers = bcNewCenters.value
        Array.tabulate(n)(i => math.min(measure.pointCost(centers(i), point), cost(i)))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      val sumCosts = costs.fold(new Array[Double](n)) { (a, b) =>
        Array.tabulate(n)(i => a(i) + b(i))
      }
      bcNewCenters.unpersist()
      preCosts.unpersist()

      val s = step
      val chosen = data.zip(costs).mapPartitionsWithIndex { (index, pointCosts) =>
        val rand = new XORShiftRandom(sampleSeed ^ (s << 16) ^ index)
        pointCosts.flatMap { case (point, cost) =>
          val draw = rand.nextDouble()
          val hits = (0 until n).filter(i => draw < 2.0 * cost(i) * ks(i) / sumCosts(i))
          if (hits.isEmpty) None else Some((point, hits))
        }
      }.collect()
      newCenters = Array.tabulate(n) { i =>
        chosen.collect { case (point, hits) if hits.contains(i) => point.toDense }
      }
      for (i <- 0 until n) candidates(i) ++= newCenters(i)
      step += 1
    }
    costs.unpersist()
    broadcasts.foreach(_.destroy())

    val distinct = candidates.map(_.map(_.vector).distinct.map(new VectorWithNorm(_)).toArray)
    val reduce = (0 until n).filter(i => distinct(i).length > ks(i)).toArray
    val weights = if (reduce.isEmpty) Array.empty[Array[Long]] else {
      val bcCandidates = sc.broadcast(reduce.map(i => distinct(i)))
      val counts = data.mapPartitions { points =>
        val cands = bcCandidates.value
        val c = cands.map(cs => new Array[Long](cs.length))
        points.foreach { p =>
          for (a <- cands.indices) c(a)(measure.findClosest(cands(a), p)._1) += 1L
        }
        Iterator.single(c)
      }.reduce((x, y) => x.zip(y).map { case (u, v) => u.zip(v).map(t => t._1 + t._2) })
      bcCandidates.destroy()
      counts
    }
    Array.tabulate(n) { i =>
      val a = reduce.indexOf(i)
      if (a < 0) distinct(i)
      else LocalKMeans.kMeansPlusPlus(0, distinct(i), weights(a).map(_.toDouble), ks(i), 30)
    }
  }

  /** Lloyd's iterations for every k at once: one single-stage
    * `mapPartitions` → `collect` job per iteration, carrying only the k
    * not yet converged. Each partition returns its (k slot, cluster)
    * partial sums and weights (the clusters it saw) and its per-k cost;
    * the driver merges them in partition-index order with MLlib's `axpy`.
    * That is the order in which `reduceByKey`'s reducer combines the map
    * outputs it fetches, so every center stays bit-identical to
    * MLlib's. Returns per k the centers, the last iteration's cost and
    * the iteration count.
    *
    * Scale note: per partition and iteration the driver receives at
    * most Σk·kᵢ·d partial-sum doubles (140 for k=2..6 and d=7), one
    * weight per cluster and one cost per k, whatever the data size. */
  private def lloyd(
      data: RDD[VectorWithNorm],
      init: Array[Array[VectorWithNorm]],
      maxIterations: Int,
      epsilon: Double,
      measure: DistanceMeasure): Seq[(Array[VectorWithNorm], Double, Int)] = {
    val sc = data.sparkContext
    val n = init.length
    val centers = init.map(_.clone())
    val numFeatures = centers.head.head.vector.size
    val cost = new Array[Double](n)
    val iterations = new Array[Int](n)
    val converged = new Array[Boolean](n)
    var iteration = 0
    while (iteration < maxIterations && converged.contains(false)) {
      val active = (0 until n).filterNot(i => converged(i)).toArray
      val bcCenters = sc.broadcast(active.map(i => centers(i)))
      val stats = active.map { i =>
        val cs = centers(i)
        if (!DistanceMeasure.shouldComputeStatistics(cs.length)) None
        else if (DistanceMeasure.shouldComputeStatisticsLocally(cs.length, numFeatures)) {
          Some(measure.computeStatistics(cs))
        } else {
          val bc = sc.broadcast(cs)
          try Some(measure.computeStatisticsDistributedly(sc, bc)) finally bc.destroy()
        }
      }
      val bcStats = sc.broadcast(stats)

      // per partition: (slot, cluster, sum, weight) for the clusters it
      // saw, and each slot's cost summed in row order
      val partials = data.mapPartitions { points =>
        val cs = bcCenters.value
        val st = bcStats.value
        val dims = cs.head.head.vector.size
        val sums = cs.map(c => Array.fill(c.length)(Vectors.zeros(dims)))
        val weightSums = cs.map(c => new Array[Double](c.length))
        val costs = new Array[Double](cs.length)
        points.foreach { point =>
          var a = 0
          while (a < cs.length) {
            val (best, c) = measure.findClosest(cs(a), st(a), point)
            costs(a) += c * point.weight
            measure.updateClusterSum(point, sums(a)(best))
            weightSums(a)(best) += point.weight
            a += 1
          }
        }
        val seen = for {
          a <- cs.indices
          j <- cs(a).indices
          if weightSums(a)(j) > 0
        } yield (a, j, sums(a)(j), weightSums(a)(j))
        Iterator.single((seen.toArray, costs))
      }.collect()

      bcCenters.destroy()
      bcStats.destroy()

      val merged = scala.collection.mutable.HashMap[(Int, Int), (Vector, Double)]()
      val costSums = new Array[Double](active.length)
      partials.foreach { case (seen, costs) =>
        seen.foreach { case (a, j, sum, weightSum) =>
          merged.get((a, j)) match {
            case None => merged((a, j)) = (sum, weightSum)
            case Some((acc, accWeight)) =>
              axpy(1.0, sum, acc)
              merged((a, j)) = (acc, accWeight + weightSum)
          }
        }
        for (a <- active.indices) costSums(a) += costs(a)
      }

      val moved = new Array[Boolean](active.length)
      merged.foreach { case ((a, j), (sum, weightSum)) =>
        val i = active(a)
        val newCenter = measure.centroid(sum, weightSum)
        if (!moved(a) && !measure.isCenterConverged(centers(i)(j), newCenter, epsilon)) {
          moved(a) = true
        }
        centers(i)(j) = newCenter
      }
      for (a <- active.indices) {
        converged(active(a)) = !moved(a)
        cost(active(a)) = costSums(a)
        iterations(active(a)) += 1
      }
      iteration += 1
    }
    (0 until n).map(i => (centers(i), cost(i), iterations(i)))
  }
}
