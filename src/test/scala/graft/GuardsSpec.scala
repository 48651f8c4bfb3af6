package graft

import org.apache.spark.sql.functions._
import graft.operators.{GlobalOrder, Similarity}

/** Pins for the loud-failure contracts added in round 14: each guard
  * exists because the silent behavior it replaced produced a
  * plausible-looking WRONG answer (truncated signatures, vanished
  * columns, NaN rankings) — these tests keep the guards loud. */
class GuardsSpec extends SparkSpec {
  import spark.implicits._

  test("withShardedGroupTopK rejects inputs carrying its scratch names") {
    val df = Seq((1L, "a", 2L)).toDF("k", "g", "_shard")
    val e = intercept[IllegalArgumentException] {
      GlobalOrder.withShardedGroupTopK(df, Seq("g"), col("k"), 1, "rk")(col("k"))
    }
    assert(e.getMessage.contains("_shard"))
    val df2 = Seq((1L, "a", 2L)).toDF("k", "g", "rk")
    val e2 = intercept[IllegalArgumentException] {
      GlobalOrder.withShardedGroupTopK(df2, Seq("g"), col("k"), 1, "rk")(col("k"))
    }
    assert(e2.getMessage.contains("rk"))
  }

  test("shingle_hash rejects n < 1 at construction") {
    val e = intercept[IllegalArgumentException] {
      graft.functions.HashExpressions.shingle_hash(col("t"), 0)
    }
    assert(e.getMessage.contains("n=0"))
  }

  test("minhash_sig enforces its Long-arithmetic contract at construction") {
    // p past the no-overflow bound (the Mersenne 2^61-1 is the natural
    // wrong choice — a*h+b wraps negative and biases every signature)
    intercept[IllegalArgumentException] {
      graft.functions.HashExpressions.minhash_sig(
        col("h"), Array(1L), Array(0L), (1L << 61) - 1)
    }
    // ragged coefficient arrays
    intercept[IllegalArgumentException] {
      graft.functions.HashExpressions.minhash_sig(
        col("h"), Array(1L, 2L), Array(0L), 2147483647L)
    }
    // coefficients outside [0, p)
    intercept[IllegalArgumentException] {
      graft.functions.HashExpressions.minhash_sig(
        col("h"), Array(-1L), Array(0L), 2147483647L)
    }
  }

  test("sign_bits errors on a vector/plane dimension mismatch") {
    val planes = Array(Array(1.0, 0.0, 0.0)) // 3-dim planes
    val df = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v") // 2-dim vector
    val e = intercept[Exception] {
      df.select(graft.functions.HashExpressions.sign_bits(col("v"), planes, 64))
        .collect()
    }
    // the GUARD's message, not any incidental failure: a regressed guard
    // would AIOOBE with an unrelated message and must fail here
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dims")),
      s"expected the sign_bits dimension guard, got: ${messages(e).mkString(" | ")}")
  }

  test("jaccard of two empty arrays is NULL, never NaN") {
    val df = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
    val row = df.select(graft.functions.VecText.jaccard("a", "b").as("j")).head()
    assert(row.isNullAt(0),
      "empty/empty jaccard must be NULL — NaN orders above every double " +
        "and passes >= threshold filters as a bogus near-dup")
  }

  test("pointInInterval rejects decimal point/bound columns at the API") {
    val pts = Seq(Tuple1(BigDecimal(1.5))).toDF("p")
    val iv = Seq((0.0, 2.0)).toDF("lo", "hi")
    val e = intercept[IllegalArgumentException] {
      graft.plans.IntervalJoin.pointInInterval(pts, iv, "p", "lo", "hi")
    }
    assert(e.getMessage.contains("numeric"))
  }

  test("salted asof rejects inputs carrying its scratch names") {
    val l = Seq((1L, 1L, 5L)).toDF("k", "t", "__skey")
    val r = Seq((1L, 1L, 7L)).toDF("k2", "t2", "tb")
    val e = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoin.asof(l, r, "k", "k2", "t", "t2", "tb", salt = 4)
    }
    assert(e.getMessage.contains("__skey"))
  }

  test("pqTopK rejects an nSub that does not divide the 64-dim embedding") {
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(spark, sf, nSub = 12)
    }
    assert(e.getMessage.contains("nSub=12"))
  }

  test("Stage rejects a staged corpus missing its _PARAMS sentinel") {
    val base = java.nio.file.Files.createTempDirectory("guards_params").toString
    // (a) tables present, no sentinel → must fail (a pre-sentinel-era
    // leftover cannot be validated; stamping it with the CURRENT params
    // would validate nothing)
    val stale = new java.io.File(base, "stale"); stale.mkdirs()
    new java.io.File(stale, "documents.parquet").mkdirs()
    val e = intercept[IllegalArgumentException] {
      Stage.validateStagedParams(stale.toString, "copies=10;src=x")
    }
    assert(e.getMessage.contains("_PARAMS"))
    // (b) fresh dir → sentinel written, second call with same params ok
    val fresh = new java.io.File(base, "fresh").toString
    Stage.validateStagedParams(fresh, "copies=10;src=x")
    Stage.validateStagedParams(fresh, "copies=10;src=x")
    // (c) params mismatch against the recorded sentinel → must fail
    val e2 = intercept[IllegalArgumentException] {
      Stage.validateStagedParams(fresh, "copies=3;src=x")
    }
    assert(e2.getMessage.contains("copies=10"))
  }

  test("served-fraction budget: 0.098/0.065/0.105 pass, 0.106 fails") {
    // the canary ladder and both scanned-fraction warnings share this
    // edge: the calibrated 0.098 target + 0.007 allowance for the
    // served (id<10) probes
    assert(Similarity.withinServedBudget(0.098)) // the calibrated target
    assert(Similarity.withinServedBudget(0.065)) // a historical 5M-vector reading
    assert(Similarity.withinServedBudget(0.105)) // the allowance edge
    assert(!Similarity.withinServedBudget(0.106))
  }

  test("candidate floor: ceil(512 * nlist / n), never under 6, over the raw table count") {
    import Similarity.candidateFloor
    assert(candidateFloor(16, 500L) == 17)       // 8192 / 500 = 16.4 -> 17
    assert(candidateFloor(128, 8192L) == 8)      // exact division, no round-up
    assert(candidateFloor(128, 8193L) == 8)      // 7.999 -> 8
    assert(candidateFloor(16, 100000L) == 6)     // the budget term vanishes
    assert(candidateFloor(1, 1L) == 512)
    assert(candidateFloor(1, 0L) == 512)         // an empty count divides by 1
    // zero-norm rows make the index (1364 rows) smaller than the table
    // (1366): the floor the bisection applied is the table's 6, and an
    // index-count recomputation would read 7 — so a bisection-chosen
    // nprobe of 7 would wrongly count as floor-governed and silence the
    // served-fraction divergence warning
    assert(candidateFloor(16, 1366L) == 6)
    assert(candidateFloor(16, 1364L) == 7)
  }

  test("Similarity keeps one loader, one ranking window and dir-keyed memos") {
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p)).toSeq
    def count(src: String, needle: String): Int =
      java.util.regex.Pattern.quote(needle).r.findAllMatchIn(src).size
    // the embeddings float -> double cast lives in Similarity.corpus only
    val casts = sources
      .map { case (f, src) => f -> count(src, "transform(embedding, x -> CAST(x AS DOUBLE))") }
      .filter(_._2 > 0)
    assert(casts == Seq("Similarity.scala" -> 1),
      s"embeddings cast outside the one loader: $casts")
    val sim = sources.collectFirst { case ("Similarity.scala", src) => src }.get
    assert("""def \w+Over\(""".r.findFirstIn(sim).isEmpty,
      "a frame-twin XOver operator is back in Similarity")
    assert(!sim.contains("memoKey"), "a caller-supplied memo key is back in Similarity")
    assert(count(sim, """orderBy(col("cos_raw").desc, col("neighbor_id").asc)""") == 1,
      "the cosine top-k window must be declared once")
    // one coarse quantizer: every IVF and PQ serve goes through IvfIndex
    val coarse = sources.flatMap { case (_, src) =>
      """case class (Ivf\w*Index)\b""".r.findAllMatchIn(src).map(_.group(1)) }
    assert(coarse == Seq("IvfIndex"), s"coarse-index case classes: $coarse")
    val twoLevel = sources.filter { case (_, src) =>
      """(?i)TwoLevel|ivf2""".r.findFirstIn(src).nonEmpty }.map(_._1)
    assert(twoLevel.isEmpty, s"a two-level ANN symbol is back in $twoLevel")
    // one exact embedding pair miner: the survival-gated centroid-pruned
    // route stays retired
    val pruned = sources.filter { case (_, src) =>
      """prunedEmbeddingPairs|bucketPairSurvival|PrunedGeom|embeddingPairsShared""".r
        .findFirstIn(src).nonEmpty }.map(_._1)
    assert(pruned.isEmpty, s"a centroid-pruned pair route symbol is back in $pruned")
    // one IVF training recipe: no public Similarity def takes the
    // quantizer's training inputs as parameters
    val publicDefs = """(?s)\n  def \w+\((.*?)\)\s*:""".r.findAllMatchIn(sim).map(_.group(1)).toSeq
    assert(publicDefs.nonEmpty, "found no public Similarity def to check")
    val knobs = publicDefs.filter("""\btrain(Iters|Fraction)\s*:""".r.findFirstIn(_).nonEmpty)
    assert(knobs.isEmpty, s"a public Similarity def takes a training knob: $knobs")
  }

  test("pair miners keep one postings, one prefix rule and one cosine verify tail") {
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p)).toSeq
    def sites(needle: String): Seq[(String, Int)] = sources
      .map { case (f, src) => f -> java.util.regex.Pattern.quote(needle).r.findAllMatchIn(src).size }
      .filter(_._2 > 0)
    def inDedup(needle: String): Int = sites(needle).toMap.getOrElse("Dedup.scala", 0)
    assert(inDedup("""explode(col("sh"))""") == 1, "a second shingle postings explode in Dedup")
    assert(inDedup("- ceil(") == 1, "a second prefix-length rule in Dedup")
    assert(sites("""orderBy(col("dfreq").asc""") == Seq("Dedup.scala" -> 1),
      "the rarest-first prefix order must be declared once")
    assert(sites("""round(col("cos"), 6).as("cos")""") == Seq("Similarity.scala" -> 1),
      "the cosine verify tail must be declared once")
  }

  test("every main builds one session with identical SQL conf") {
    // every main must plan alike: each takes its session from the one
    // factory and sets no SQL conf of its own afterwards. The mains are
    // found, not listed, so a new one is covered the day it lands
    import scala.jdk.CollectionConverters._
    val mains = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString.stripSuffix(".scala") -> java.nio.file.Files.readString(p))
      .filter(_._2.contains("def main(")).toMap
    assert(Set("Bench", "Verify", "Explain", "Smoke", "Stage", "KMeansScanJob").subsetOf(mains.keySet),
      s"the discovery missed a known main: ${mains.keySet}")
    for ((main, src) <- mains) {
      assert(src.contains("val spark = GraftSession.local()"),
        s"$main must build its session with GraftSession.local()")
      for (drift <- Seq("SparkSession.builder", ".config(\"", "conf.set("))
        assert(!src.contains(drift), s"$main sets its own session conf ($drift)")
    }
  }

  test("src/main declares one SparkListener and no profiler knob") {
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p)).toSeq
    val listeners = sources.flatMap { case (f, src) =>
      """(?:class|object)\s+(\w+)[^{\n]*\bextends\s+SparkListener\b|new\s+SparkListener\b""".r
        .findAllMatchIn(src).map(m => s"$f: ${Option(m.group(1)).getOrElse("anonymous")}") }
    assert(listeners == Seq("Bench.scala: StageRecorder"), s"SparkListener subclasses: $listeners")
    // the deleted profiler's knob family, matched by prefix
    val knob = sources.filter(s => """\bGRAFT_PROFILE\w*""".r.findFirstIn(s._2).nonEmpty).map(_._1)
    assert(knob.isEmpty, s"a GRAFT_PROFILE env knob is back in $knob")
  }

  test("Bench records each query's layers and keeps a thrown query out of them") {
    val good = "q_filter_pred" -> SparkEntry.queries("q_filter_pred")
    // the bad dir of Smoke's probe: the query throws on its first read
    val bad = "q_accuracy" ->
      ((s: org.apache.spark.sql.SparkSession, _: String) => SparkEntry.queries("q_accuracy")(s, s"$sfBase/nope"))
    val runs = Bench.sweep(spark, sf, Seq(good, bad))
    val results = runs.map { case (n, r) => n -> r.map(_.wallS) }
    val layers = runs.collect { case (n, Some(r)) => n -> r.layers }.toMap
    assert(layers.keySet == Set("q_filter_pred"), s"layers for ${layers.keySet}")
    val line = Bench.buildLine(results, sf, 1, layers)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val l = json.get("layers").get("q_filter_pred")
    def n(field: String): Double = l.get(field).asDouble()
    val wall = json.get("queries").get("q_filter_pred").asDouble()
    assert(n("jobs") >= 1, s"layers $l")
    assert(n("tasks") >= n("stages") && n("stages") >= 1, s"layers $l")
    assert(n("driver_gap_s") >= 0.0 && n("driver_gap_s") <= wall, s"layers $l of wall $wall")
    assert(json.get("layers").size() == 1, s"a thrown query has layers: $line")
    assert(json.get("errors").get(0).asText() == "q_accuracy", line)
    assert(!json.get("queries").has("q_accuracy"), line)
    assert(""""value":[0-9]+\.[0-9]{3}}$""".r.findFirstIn(line).nonEmpty, s"line tail: $line")
  }

  test("a thrown bench query lands in the errors field, never the timings") {
    val line = Bench.buildLine(
      Seq("q_ok" -> Some(1.25), "q_boom" -> None, "q_ok2" -> Some(0.5)),
      "/tmp/sfX")
    assert(line.contains(""""errors":["q_boom"]"""),
      s"missing errors field in: $line")
    assert(!line.contains(""""q_boom":"""),
      "a thrown query must not carry a timing — exception-unwinding " +
        s"wall time would read as a bogus speedup: $line")
    assert(line.contains(""""q_ok":1.250""") && line.contains(""""value":1.750"""))
    // the no-failure line must not carry an errors field at all
    assert(!Bench.buildLine(Seq("q_ok" -> Some(1.0)), "/tmp/sfX").contains("errors"))
  }

  test("bench line keeps headline fields last, inside the driver tail budget") {
    // The round-20 bench line failed the driver's stdout-tail parse and
    // cost an entire round its per-query prev/now table. The structural
    // defense (round-22 verdict item 2): the line is ONE line, the
    // headline fields start at ","sf": and run to the closing brace, and
    // that suffix — the only part that must survive the driver's ~2.1 KB
    // tail capture — stays far under the budget even with a worst-case
    // errors field; "value" is the final key so the total always lands.
    val many = (1 to 300).map(i => f"q_padding_name_$i%03d" -> Option(1.234))
    val errs = (1 to 20).map(i => f"q_failed_query_name_$i%03d" -> Option.empty[Double])
    val line = Bench.buildLine(many ++ errs, "/root/testdata/sf0.1")
    assert(!line.contains("\n") && line.endsWith("}"), "must be ONE line")
    val vIdx = line.lastIndexOf("\"value\":")
    assert(vIdx > 0 && !line.substring(vIdx).contains(","),
      s"value must be the LAST field: ...${line.substring(line.length - 60)}")
    val sfIdx = line.lastIndexOf(",\"sf\":")
    assert(sfIdx > 0, "headline block must exist")
    val suffix = line.substring(sfIdx)
    assert(suffix.length < 1600,
      s"headline suffix is ${suffix.length} B — it must stay well inside " +
        "the driver's ~2.1 KB stdout tail or the one-line contract breaks")
  }

  test("streamStatePartitions: key-derived with floor and session-width cap") {
    import graft.streaming.EventsStream.streamStatePartitions
    // a pure function of (cap, estKeys): the caller reads the session
    // width before any scope changes it, so no conf is touched here
    // small-corpus floor: a few thousand keys never drop below the
    // measured 4-store optimum
    assert(streamStatePartitions(32, 1L) == 4)
    assert(streamStatePartitions(32, 15000L) == 4)
    // derived: 1e8 keys at 1e6 keys/store → 100, capped at session width
    assert(streamStatePartitions(32, 100000000L) == 32)
    assert(streamStatePartitions(2000, 100000000L) == 100)
    // between floor and cap: ceil(1e7 / 1e6) = 10 stores
    assert(streamStatePartitions(32, 10000000L) == 10)
    // a session narrower than the floor never yields MORE than the
    // floor (and never zero/negative)
    assert(streamStatePartitions(2, 1L) == 4)
  }

  test("pair graphs under the partition budget label in one task at any session width") {
    import graft.operators.Dedup.{AdjacencyRowsPerPartition => budget, labelsInOneTask, loopPartitions}
    val rows = Seq(0L, 1L, 12L, budget - 1, budget, budget + 1, 5 * budget, 1L << 40)
    for (r <- rows) {
      // the choice reads the row count alone: it is exactly "the loop's
      // uncapped width is one partition"
      assert(labelsInOneTask(r) == (r < budget), s"rows $r")
      assert(labelsInOneTask(r) == (loopPartitions(r, Long.MaxValue) == 1L), s"rows $r")
      for (width <- Seq(1L, 4L, 200L)) {
        val parts = loopPartitions(r, width)
        assert(parts >= 1L && parts <= width, s"rows $r width $width")
      }
    }
    // a narrow session caps the loop at one partition without ever
    // sending a graph over the budget to the one-task path
    assert(loopPartitions(5 * budget, 1L) == 1L && !labelsInOneTask(5 * budget))
    assert(loopPartitions(5 * budget, 200L) == 6L)
    // specs reach the rounds with bound 0: no graph is under it
    assert(!labelsInOneTask(0L, 0L))
  }

  test("session conf is set only by GraftSession.withConfs") {
    // every scoped conf change goes through the one save/set/restore
    // helper; no main sets a conf of its own
    import scala.jdk.CollectionConverters._
    val setters = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val src = java.nio.file.Files.readString(p)
        src.contains("conf.set") || src.contains("conf.unset")
      }
      .map(_.getFileName.toString).toSet
    assert(setters == Set("GraftSession.scala"),
      s"conf.set/conf.unset outside GraftSession.withConfs: $setters")
  }

  test("the range generator drains ALL rows under Trigger.Once") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // rows >> batchRows: the ReadAllAvailable limit must jump to the end,
    // not admit one batch and terminate (90% of the data silently lost)
    val stream = spark.readStream.format("graft.sources.RangeGenSource")
      .option("rows", "1000").option("batchRows", "100").load()
    val name = s"guards_once_${System.nanoTime()}"
    val q = stream.groupBy().count()
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name)
      .trigger(Trigger.Once()).start()
    q.awaitTermination()
    val n = spark.table(name).head().getLong(0)
    spark.catalog.dropTempView(name)
    assert(n == 1000L, s"Trigger.Once drained $n of 1000 rows")
  }

  test("validateStagedParams rewrites a legacy tables-suffixed sentinel in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sentinel").toString
    val pf = java.nio.file.Paths.get(dir, "_PARAMS")
    java.nio.file.Files.writeString(pf, "copies=30;src=/x;tables=events,orders")
    // same copies/src, tables dropped from the format: backfill, not restage
    Stage.validateStagedParams(dir, "copies=30;src=/x")
    assert(java.nio.file.Files.readString(pf).trim == "copies=30;src=/x",
      "the sentinel must be rewritten to the new format")
    // and a REAL generation-parameter mismatch still fails loudly
    val e = intercept[IllegalArgumentException] {
      Stage.validateStagedParams(dir, "copies=10;src=/x")
    }
    assert(e.getMessage.contains("copies=10"))
  }

  test("the k-scan fits through the fused bridge; MLlib-private symbols stay in the bridges") {
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val mlEstimators = sources
      .filter(_.toString.contains("src/main/scala/graft/ml/"))
      .filter(p => java.nio.file.Files.readString(p).contains("new KMeans()"))
    assert(mlEstimators.isEmpty, s"per-k MLlib fits back in graft.ml: $mlEstimators")
    val mlEvaluators = sources
      .filter(_.toString.contains("src/main/scala/graft/ml/"))
      .filter(p => java.nio.file.Files.readString(p).contains("ClusteringEvaluator"))
    assert(mlEvaluators.isEmpty, s"per-k MLlib silhouette evaluators back in graft.ml: $mlEvaluators")
    val bridges = Set("FusedKMeans.scala", "KMeansBridge.scala", "FusedSilhouette.scala")
    val privateSymbols = Seq("VectorWithNorm", "DistanceMeasure", "LocalKMeans", "new KMeansModel(",
      "SquaredEuclideanSilhouette", "ClusterStats", "computeSilhouetteCoefficient")
    val leaks = for {
      p <- sources if !bridges(p.getFileName.toString)
      src = java.nio.file.Files.readString(p)
      sym <- privateSymbols if src.contains(sym)
    } yield s"${p.getFileName}: $sym"
    assert(leaks.isEmpty, s"MLlib-private symbols outside the bridges: $leaks")
  }

  test("edge checkpoint level: serialized above a quarter of the heap, deserialized below") {
    import org.apache.spark.storage.StorageLevel.{MEMORY_AND_DISK, MEMORY_AND_DISK_SER}
    import graft.operators.Graph.edgeCheckpointLevel
    val heap = 8L << 30
    // projected footprint = input x 24, against heap / 4 = 2 GiB
    assert(edgeCheckpointLevel(100L << 20, heap) == MEMORY_AND_DISK_SER)
    assert(edgeCheckpointLevel(80L << 20, heap) == MEMORY_AND_DISK)
    // at exactly a quarter of the heap it still fits
    assert(edgeCheckpointLevel(heap / 96, heap) == MEMORY_AND_DISK)
    assert(edgeCheckpointLevel(heap / 96 + 1, heap) == MEMORY_AND_DISK_SER)
  }
}
