package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.ml.{FeaturePipeline, KMeansScan}
import graft.operators._
import graft.streaming.EventsStream

/** What one pass hands its operations: the session, the input tables,
  * a per-pass scratch directory and the values earlier steps produced. */
final class Ctx(val spark: SparkSession, val data: String, val scratch: String) {
  val state = mutable.Map.empty[String, Any]
}

/** An operation's result: a frame the runner digests in Spark, or a
  * digest the operation computed itself (for outputs that are files). */
sealed trait Out
final case class Frame(df: DataFrame) extends Out
final case class Computed(digest: String) extends Out

/** One call into a layer. `query` names the `SparkEntry.queries` entry
  * the call reproduces, if any; `split` times build, plan and exec as
  * separate spans. */
final case class Op(name: String, layer: String, query: Option[String], split: Boolean)(
    val run: Ctx => Out)

/** A workload is a list of chains. Steps of a chain consume their
  * predecessors' output and keep their order; the seed permutes the
  * chains, never the steps inside one. */
final case class Workload(name: String, why: String, chains: Seq[Seq[Op]]) {
  def ops: Seq[Op] = chains.flatten
  // java.util.Random's first draws barely depend on small, consecutive
  // seeds; SplittableRandom mixes the seed first
  def ordered(seed: Long): Seq[Seq[Op]] =
    new Random(new java.util.SplittableRandom(seed).nextLong()).shuffle(chains)
}

object Workloads {

  private def q(name: String, layer: String, split: Boolean = false)(
      f: (SparkSession, String) => DataFrame): Op =
    Op(name, layer, Some(name), split)(c => Frame(f(c.spark, c.data)))

  /** An interactive query, resolved in `SparkEntry.queries` when the
    * workload is built, so a renamed query fails before anything runs. */
  private[perfbench] def entry(name: String, layer: String): Op = {
    val f = SparkEntry.queries.getOrElse(name,
      throw new NoSuchElementException(s"workload query $name is not in SparkEntry.queries"))
    q(name, layer, split = true)(f)
  }

  // ---- pipelines: multi-step chains whose steps feed each other ----------

  private def prepared(c: Ctx): DataFrame = FeaturePipeline.prepareData(c.spark, c.data)

  private def featureNames(c: Ctx): Seq[String] =
    FeaturePipeline.featureNames(c.spark, c.data).toSeq

  private def scanResults(c: Ctx): Seq[KMeansScan.ScanResult] =
    c.state("scan").asInstanceOf[Seq[KMeansScan.ScanResult]]

  /** The paper's segmentation pipeline: prepareData, five seeded K-Means
    * fits with silhouette and model save, the results CSV, and a reload
    * of the k=4 model to assign every customer. */
  val segmentation: Seq[Op] = Seq(
    Op("ml.prepareData", "ml", None, split = false)(c => Frame(prepared(c))),
    Op("ml.kmeansScan", "ml", None, split = false) { c =>
      val res = KMeansScan.scan(prepared(c), 2, 6, s"${c.scratch}/models", seed = 1L)
      c.state("scan") = res
      Frame(KMeansScan.resultsFrame(c.spark, res, featureNames(c)))
    },
    Op("ml.resultsCsv", "ml", None, split = false) { c =>
      val path = s"${c.scratch}/clustering_results.csv"
      KMeansScan.saveResultsCsv(KMeansScan.resultsFrame(c.spark, scanResults(c), featureNames(c)), path)
      Computed(fileDigest(path))
    },
    Op("ml.loadModelTransform", "ml", None, split = false) { c =>
      val path = scanResults(c).find(_.k == 4)
        .getOrElse(throw new IllegalStateException("k-scan lacks k=4")).modelPath
      Frame(KMeansScan.loadModel(path).transform(prepared(c))
        .select(col("custkey"), col("prediction")))
    })

  val pipelines: Workload = Workload("pipelines",
    "the segmentation pipeline and near-duplicate clustering: MLlib fits, pair mining, CC loop",
    Seq(
      segmentation,
      // theta=0.2 pair mining, then the connected-components loop over its pairs
      Seq(q("q_dedup_ngram_prefix", "dedup")(Dedup.ngramJaccardPairsPrefix(_, _)),
        q("q_dedup_components", "dedup")(Dedup.dedupComponents(_, _))),
    ))

  // ---- queries: independent single requests -------------------------------

  /** A TPC-H scan-aggregate through SQL text. */
  val sqlQueries: Seq[String] = Seq("q_sql_tpch_q1")
  /** The segmentation pipeline's relational input. */
  val relationalQueries: Seq[String] = Seq("q_user_stats")
  /** A ranking window. */
  val breadthQueries: Seq[String] = Seq("q_window_rank")

  val queries: Workload = Workload("queries",
    "single requests: SQL, relational, breadth, corpus curation, hybrid search, a stream replay, a write",
    (sqlQueries.map(entry(_, "sql")) ++ relationalQueries.map(entry(_, "relational")) ++
      breadthQueries.map(entry(_, "breadth")) ++ Seq(
        // theta=0.5 prefix pair mining and the curation verdicts
        q("q_corpus_curation", "text")(TextAnalysis.curateCorpus),
        q("q_hybrid_search", "similarity")(Similarity.hybridSearch(_, _)),
        q("q_stream_sessions", "stream")(EventsStream.sessionize(_, _)),
        q("q_partitioned_write", "scale")(Scale.partitionedRoundTrip),
      )).map(Seq(_)))

  val all: Seq[Workload] = Seq(pipelines, queries)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** Layers named by the benchmark, in report order; `spark` is the
    * runtime under all of them, read through the listeners. */
  val layers: Seq[String] = Seq("ml", "text", "dedup", "similarity", "sql", "relational",
    "breadth", "stream", "scale", "spark")

  private def fileDigest(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      .take(12).map(b => f"$b%02x").mkString("sha256:", "", "")
  }
}
