package graft

import graft.ml.Report
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Cross-checks and shape invariants for the queries whose output cannot
  * be SQL-oracled (xxhash64-based sketches, ML-derived tables) — so fewer
  * entries ride on a rows-only driver check. */
class InvariantSpec extends SparkSpec {

  test("EwmaWeights equal the closed form (1-α)^j at α=0.3, 12-dp HALF_UP") {
    // The q_ewma_revenue oracle derives its weights INDEPENDENTLY (a
    // recursive DECIMAL CTE in DuckDB); this pin closes the other half:
    // the engine's literal table must match the closed form, so neither
    // side can drift to a wrong-but-shared constant (the class of bug
    // that hid the recursive-CTE spine truncation for rounds).
    val alpha = BigDecimal("0.7")
    assert(graft.operators.Breadth.EwmaWeights.size == 14)
    graft.operators.Breadth.EwmaWeights.zipWithIndex.foreach { case (w, j) =>
      val closed = alpha.pow(j).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      assert(w == closed, s"EwmaWeights($j) = $w but (0.7)^$j rounds to $closed")
    }
  }

  test("Benford expectation column equals the closed form log10(1+1/d)") {
    // same shared-constant audit as EwmaWeights: the oracle now derives
    // the expectation from LOG10 directly; this pins the engine's 6-dp
    // literal table to the identical closed form
    val rows = graft.operators.Breadth.benfordAudit(spark, sf)
      .select("digit", "expected").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getInt(0)
      val closed = math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5) / 1e6
      assert(r.getDouble(1) == closed,
        s"expected($d) = ${r.getDouble(1)} but log10(1+1/$d) rounds to $closed")
    }
  }

  test("simhash distance is consistent with the oracle-checked ngram Jaccard") {
    // The ngram path is fully oracle-checked; pairs it scores at
    // Jaccard >= 0.8 are near-exact copies. Two unrelated docs sit at
    // Hamming distance ~30 ± 4 on the 60-effective-bit simhash
    // (md5-prefix basis), so high-Jaccard pairs must land FAR below:
    // every pair <= 20 (3+ sigma below random) and a mean <= 10 (many
    // sigma below for the ensemble) pin the sketch to the exact
    // similarity measure. (The q_dedup_simhash query's own threshold of
    // 3 is deliberately tighter — it targets byte-level copies, not
    // paraphrase-level 0.8-Jaccard pairs.)
    val high = Dedup.ngramJaccardPairs(spark, sf, 0.2)
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b")
    assert(high.count() > 0, "fixture should contain near-exact duplicate docs")
    val docs = Dedup.simhashDocs(spark, sf)
    val hams = high
      .join(docs.select(col("doc_id").as("id_a"), col("simhash").as("sa")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("simhash").as("sb")), "id_b")
      .select(bit_count(col("sa").bitwiseXOR(col("sb"))).as("ham"))
      .collect().map(_.getInt(0))
    assert(hams.nonEmpty && hams.forall(_ <= 20),
      s"simhash distances out of near-dup range: ${hams.mkString(",")}")
    assert(hams.sum.toDouble / hams.length <= 10.0,
      s"mean simhash distance too high for near-dups: ${hams.mkString(",")}")
    // (No reverse containment: on short docs, token-level simhash finds
    // legitimate low-distance pairs that share no word 3-gram, so the
    // distance-3 query output is NOT a subset of the ngram pairs.)
  }

  test("embedding clusters are consistent with the oracle-checked pair graph") {
    val pairs = Dedup.embeddingPairs(spark, sf, 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.embeddingClusters(spark, sf, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap // component_id -> n_members
    assert(pairs.nonEmpty && clusters.nonEmpty)
    // every cluster has >= 2 members (only paired vertices enter the graph)
    assert(clusters.values.forall(_ >= 2), s"singleton cluster: $clusters")
    // total membership equals the number of distinct paired vertices
    val vertices = pairs.flatMap(p => Seq(p._1, p._2)).distinct.length
    assert(clusters.values.sum === vertices.toLong,
      s"cluster membership ${clusters.values.sum} != paired vertices $vertices")
    // component ids are members of their own cluster (min-label property)
    assert(clusters.keySet.subsetOf(
      pairs.flatMap(p => Seq(p._1, p._2)).toSet))
  }

  test("incremental dedup verdicts agree with the all-pairs ngram graph") {
    val srcOf = Tables.load(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // cross-source near-dup docs of src1, derived from the oracle-checked
    // symmetric pair query
    val expectedDups = Dedup.ngramJaccardPairs(spark, sf, 0.2)
      .select("id_a", "id_b").collect()
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        Seq(a -> b, b -> a)
      }
      .collect { case (x, y) if srcOf(x) == "src1" && srcOf(y) != "src1" => x }
      .toSet
    val got = Dedup.dedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(3))).toMap
    assert(got.nonEmpty)
    assert(got.count(_._2 == 1) === expectedDups.size,
      s"dup count mismatch: ${got.filter(_._2 == 1).keys} vs $expectedDups")
    assert(got.filter(_._2 == 1).keySet === expectedDups)
    // every src1 doc got a verdict
    assert(got.keySet === srcOf.collect { case (id, "src1") => id }.toSet)
  }

  test("incremental dedup: df cap at/above observed max df leaves output identical") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), r.getInt(3))).toSet
    val capped = asSet(Dedup.dedupIncremental(spark, sf)) // default cap 1000
    val uncapped = asSet(Dedup.dedupIncremental(spark, sf, dfCap = Long.MaxValue))
    assert(capped.nonEmpty)
    assert(capped == uncapped,
      s"missing=${uncapped -- capped} extra=${capped -- uncapped}")
  }

  test("hot-shingle guard is divergence-free under injected boilerplate") {
    import org.apache.spark.sql.functions._
    // synthetic corpus: 7 content groups sharing 8 shingles each, 2
    // unique shingles per doc, and ONE boilerplate shingle present in
    // EVERY doc (df = 100). With dfCap = 50 the boilerplate is cut from
    // candidate generation; pairs that share only it sit far below the
    // 0.2 threshold (j = 1/21), so the capped and uncapped runs must
    // produce identical verdicts — the guard sheds the quadratic hot key
    // without touching results.
    val boiler = 999999L
    val rows = (0L until 100L).map { id =>
      val content = Seq.tabulate(8)(i => (id % 7) * 100 + i) ++
        Seq(id * 1000 + 1, id * 1000 + 2)
      (id, "en", content :+ boiler)
    }
    val docs = spark.createDataFrame(rows).toDF("doc_id", "lang", "sh")
    val newDocs = docs.filter(col("doc_id") < 40)
    val oldDocs = docs.filter(col("doc_id") >= 40)
    val allNew = newDocs.select("doc_id")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), r.getInt(3))).toSet
    val capped = asSet(Dedup.incrementalVerdicts(newDocs, oldDocs, allNew, 0.2, dfCap = 50L))
    val uncapped = asSet(Dedup.incrementalVerdicts(newDocs, oldDocs, allNew, 0.2, dfCap = Long.MaxValue))
    assert(capped == uncapped,
      s"missing=${uncapped -- capped} extra=${capped -- uncapped}")
    // the synthetic data genuinely exercises both verdicts
    assert(capped.count(_._4 == 1) > 0, "no dup verdicts — injection inert")
    assert(capped.map(_._1) == (0L until 40L).toSet, "keep list must cover every new doc")
  }

  test("prefix-filtered ngram pairs equal the full inverted-index pairs") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 0.2 is the components graph, 0.5 curation's near-dup cut; at 0.8
    // the prefix is shortest
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val full = asSet(Dedup.ngramJaccardPairs(spark, sf, t))
      val pref = asSet(Dedup.ngramJaccardPairsPrefix(spark, sf, t))
      assert(full.nonEmpty, s"no pairs at $t")
      assert(pref == full, s"at $t: missing=${full -- pref} extra=${pref -- full}")
    }
  }

  test("hot-shingle profile ranks contiguously with non-increasing df per language") {
    val p = Dedup.hotShingleProfile(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(p.nonEmpty)
    p.groupBy(_._1).foreach { case (lang, rows) =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to rows.length), s"$lang ranks not contiguous")
      assert(rows.length <= 20, s"$lang exceeded topK")
      val dfs = byRank.map(_._3).toSeq
      assert(dfs == dfs.sorted.reverse, s"$lang df not non-increasing by rank")
    }
  }

  test("q-gram prefix blocking admits far fewer candidates than length bands") {
    import org.apache.spark.sql.functions._
    val names = graft.Tables.load(spark, sf, "part").select("p_name").distinct()
      .withColumn("len", length(col("p_name")))
    // the candidate set the replaced length-window blocking would verify:
    // every pair within length diff <= 2 (~85% of the quadratic space on
    // TPC-H's saturated 62-name vocabulary — p_name draws 5 words from a
    // fixed list, so distinct names cap at ~64 and nearly all lengths
    // collide; at real vocabulary scale the gap widens with n)
    val lengthBand = names.select(col("p_name").as("name_a"), col("len").as("len_a"))
      .crossJoin(names.select(col("p_name").as("name_b"), col("len").as("len_b")))
      .filter(col("name_a") < col("name_b") &&
        abs(col("len_a") - col("len_b")) <= 2)
      .count()
    val cands = Dedup.fuzzyNameCandidates(spark, sf, 2).count()
    assert(cands <= lengthBand / 2,
      s"prefix blocking admitted $cands vs $lengthBand length-band candidates")
  }

  test("q-gram prefix blocking loses no fuzzy name match vs the unblocked join") {
    import org.apache.spark.sql.functions._
    val blocked = Dedup.fuzzyNameMatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val names = graft.Tables.load(spark, sf, "part").select("p_name").distinct()
    val full = names.select(col("p_name").as("name_a"))
      .crossJoin(names.select(col("p_name").as("name_b")))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(full.nonEmpty)
    assert(blocked == full, s"missing=${full -- blocked} extra=${blocked -- full}")
  }

  test("asymmetric prefix blocking loses no containment pair vs the exhaustive join") {
    // containmentPairs indexes only each contained-side doc's
    // |A| - ceil(t*|A|) + 1 rarest shingles; the one-sided prefix-filtering
    // theorem says that loses nothing. Verify against the exhaustive
    // all-pairs join over STRING shingles (independent of the engine's
    // 64-bit shingle hashing, so this also re-checks collision-freedom
    // at fixture scale).
    val blocked = Dedup.containmentPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docs = graft.Tables.load(spark, sf, "documents")
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 3)
      .withColumn("s", expr("array_distinct(transform(sequence(0, size(t) - 3), " +
        "i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])))"))
      .select("doc_id", "lang", "s")
    val full = docs.select(col("lang"), col("doc_id").as("id_in"), col("s").as("s_in"))
      .join(docs.select(col("lang"), col("doc_id").as("id_out"), col("s").as("s_out")), "lang")
      .filter(col("id_in") =!= col("id_out") && size(col("s_in")) <= size(col("s_out")))
      .withColumn("containment",
        size(array_intersect(col("s_in"), col("s_out"))).cast("double") / size(col("s_in")))
      .filter(col("containment") >= 0.9)
      .select(col("id_in"), col("id_out"), round(col("containment"), 6).as("containment"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty, "fixture should contain containment pairs")
    assert(blocked == full, s"missing=${full -- blocked} extra=${blocked -- full}")
  }

  test("content-defined chunking is shift-invariant: shared passage, shared fingerprints") {
    import spark.implicits._
    // same 100-token passage behind different-length prefixes: every
    // boundary inside the passage depends on token content only, so the
    // interior chunks must fingerprint identically in both docs — the
    // property fixed-width chunking (pos div 16) structurally lacks
    // (offsets differ by 4, so every fixed window is shifted).
    val shared = (1 to 100).map(i => s"tok${i * 7 % 97}w").mkString(" ")
    val docA = s"alpha beta gamma $shared"
    val docB = s"one two three four five six seven $shared"
    val docs = Seq((1L, "s", docA), (2L, "s", docB)).toDF("doc_id", "source", "text")
    val fps = graft.operators.TextAnalysis.chunkFingerprints(docs)
      .select("doc_id", "fp").collect().map(r => (r.getLong(0), r.getLong(1)))
    val fa = fps.filter(_._1 == 1L).map(_._2).toSet
    val fb = fps.filter(_._1 == 2L).map(_._2).toSet
    val common = fa intersect fb
    assert(common.size >= 2,
      s"expected >=2 shared interior chunks, got ${common.size} (a=${fa.size}, b=${fb.size})")
    // and the differing prefixes must NOT collapse to one chunk set
    assert(fa != fb)
  }

  test("report table shape: per-k long-form rows = k x n_features, finite values") {
    val rt = Report.reportTable(spark, sf).cache()
    assert(rt.columns.toSeq == Seq("k", "cluster", "score", "feature", "value"))
    val nFeatures = rt.select("feature").distinct().count()
    assert(nFeatures > 0)
    val perK = rt.groupBy("k").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    perK.foreach { case (k, n) =>
      assert(n == k * nFeatures, s"k=$k rows=$n expected ${k * nFeatures}")
    }
    // cluster ids are 1..k within each k
    val badCluster = rt.filter(col("cluster") < 1 || col("cluster") > col("k")).count()
    assert(badCluster == 0)
    assert(rt.filter(col("value").isNull).count() == 0)
    rt.unpersist()
  }

  test("best-k shape: one row, k in scan range, silhouette in [-1,1], centers == k") {
    val rows = Report.bestK(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getInt(0) >= 2 && r.getInt(0) <= 6)
    assert(r.getDouble(1) >= -1.0 && r.getDouble(1) <= 1.0)
    assert(r.getInt(2) == r.getInt(0))
  }
}
