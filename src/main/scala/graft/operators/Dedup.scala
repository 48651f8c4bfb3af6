package graft.operators

import graft.{GraftSession, Tables}
import graft.functions.VecText._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{StructField, StructType}
import scala.collection.mutable

/** Deduplication suite over `documents` / `embeddings` — the training-data
  * pipeline operators the reference lacks (BASELINE.json north star).
  *
  * Scale posture: every variant avoids O(n²) over the full corpus —
  * exact dedup shuffles 8-byte fingerprints (not text); MinHash/SimHash
  * block through LSH band buckets; n-gram Jaccard blocks on (lang,
  * length-bucket); embedding near-dup reuses the LSH idea with random
  * hyperplanes. Candidate verification touches only bucket-mates.
  */
object Dedup {

  // ---- exact ---------------------------------------------------------

  /** Exact dedup: group by 64-bit content fingerprint, keep the smallest
    * doc_id. At 100 TB the shuffle carries (hash, id) pairs — never text.
    * Memoized per (session, dir) — the fingerprint table is read by the
    * standalone query, the dashboard and the curation chain's keep-set
    * ([[pairsMemo]] charter). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    exactMemo.getOrCompute(spark, dir) {
      Tables.load(spark, dir, "documents")
        .select(xxhash64(col("text")).as("fp"), col("doc_id"))
        .groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .localCheckpoint(true)
    }
  private val exactMemo = new graft.SessionMemo[DataFrame]()

  // ---- MinHash + LSH -------------------------------------------------

  /** Mersenne prime 2^31−1: universal-hash modulus; a·h+b stays in Long.
    * graft-visible (with the perms below) so [[graft.GraftExtensions]]
    * can expose `minhash_sig` to SQL with the engine's standard basis. */
  private[graft] val P = 2147483647L
  private val NumPerm = 128
  private val BandRows = 4 // 32 bands × 4 rows: P(miss | j=0.8) ≈ 5e-8

  /** Fixed permutation coefficients — seeded, so signatures are stable
    * across sessions/partitionings. */
  private[graft] val (permA, permB) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(NumPerm)(1L + math.abs(rnd.nextLong()) % (P - 1)),
     Array.fill(NumPerm)(math.abs(rnd.nextLong()) % P))
  }

  /** 128-wide MinHash signature via the native codegen'd expression
    * ([[graft.functions.HashExpressions.MinHashSig]]) — same arithmetic as
    * the `array_min(transform(...))` combinator form (one interpreted
    * lambda per element × perm), ~10× faster. */
  private def minhashSig(hsCol: String): Column =
    graft.functions.HashExpressions.minhash_sig(col(hsCol), permA, permB, P)

  /** THE shingling definition, single source of truth (round 15 — this
    * projection existed verbatim at four sites across Dedup /
    * TextAnalysis / EventsStream, where a change to n, the tokenizer or
    * the empty-doc rule at one copy would silently diverge the others
    * from the oracles they share): docs with their distinct HASHED
    * shingle sets via the native
    * [[graft.functions.HashExpressions.ShingleHash]] loop (empty-shingle
    * docs dropped — they can't be near-duplicates of anything under
    * Jaccard). Jaccard over 64-bit shingle hashes equals Jaccard over
    * the string shingles up to ~1e-10 collision odds. `extraCols` rides
    * whatever id-adjacent columns the caller needs (lang, source). */
  private[graft] def shingledOf(docs: DataFrame, extraCols: String*): DataFrame =
    docs
      .select((col("doc_id") +: extraCols.map(col)) :+
        graft.functions.HashExpressions
          .shingle_hash(split(col("text"), " "), 3).as("sh"): _*)
      .filter(size(col("sh")) > 0)

  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    shingledOf(Tables.load(spark, dir, "documents"), "lang")

  private val shingleMemo = new graft.SessionMemo[DataFrame]()

  /** The tokenized corpus, built ONCE per (session, sf dir) and shared by
    * every shingle-based query (minhash, ngram ×2, components, curation)
    * — the "persist the tokenized corpus" step of a dedup pipeline,
    * amortized across its consumers exactly as a production run would.
    * Bounded and deliberate (one linear-size table per dir, checkpoint
    * blocks owned by the memoized frame), unlike the per-query cache
    * leaks this replaces. */
  private[graft] def docShinglesShared(spark: SparkSession, dir: String): DataFrame =
    shingleMemo.getOrCompute(spark, dir) {
      docShingles(spark, dir)
        .withColumn("sz", size(col("sh")))
        .localCheckpoint(true)
    }

  // ---- the candidate rule and the verify tail -----------------------
  // Every pair miner is block → candidate → exact verify; each step has
  // one home here, so a new candidate filter goes in once for them all.

  /** THE shingle postings: one `(cols…, shingle)` row per distinct
    * shingle of each doc of a shingled frame ([[shingledOf]]). */
  private def postings(docs: DataFrame, cols: String*): DataFrame =
    docs.select(cols.map(col) :+ explode(col("sh")).as("shingle"): _*)

  /** THE prefix length: a set of `sz` tokens keeping a ≥ `t` share of
    * itself in its partner misses ≤ sz − ⌈t·sz⌉ of them, so its first
    * sz − ⌈t·sz⌉ + 1 tokens in one global order must hit the partner. */
  private def prefixLength(sz: Column, t: Double): Column = sz - ceil(sz * t) + 1

  /** THE rarest-first prefix: each `entity`'s `postings` rows in one
    * global order — ascending frequency of `token`, then the token —
    * cut to the first `keep` (a per-row column); `postings`' columns. */
  private def rarestFirstPrefix(
      postings: DataFrame, entity: String, token: String, keep: Column): DataFrame = {
    val dfreq = postings.groupBy(token).agg(count(lit(1)).as("dfreq"))
    val w = Window.partitionBy(entity).orderBy(col("dfreq").asc, col(token).asc)
    postings.join(dfreq, token)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= keep)
      .select(postings.columns.map(col): _*)
  }

  /** One side of a pair join: `keys` as they are, `id` renamed `id_<s>`
    * and every `carry` column suffixed `_<s>`. */
  private def pairSide(df: DataFrame, s: String, id: String,
      carry: Seq[String], keys: Seq[String] = Nil): DataFrame =
    df.select(keys.map(col) ++
      (col(id).as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)

  /** THE blocking self-join: rows of `blocked` sharing all `keys`, once
    * per unordered pair (`id_a < id_b`) and where `prune` holds — once
    * per shared key, so callers dedupe. */
  private[graft] def blockingJoin(blocked: DataFrame, keys: Seq[String], id: String,
      carry: Seq[String] = Nil, prune: Column = lit(true)): DataFrame =
    pairSide(blocked, "a", id, carry, keys)
      .join(pairSide(blocked, "b", id, carry, keys), keys)
      .filter(col("id_a") < col("id_b") && prune)

  /** Jaccard's size-ratio prune: J(A,B) ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|). */
  private def sizeRatio(t: Double): Column =
    col("sz_a") * t <= col("sz_b") && col("sz_b") * t <= col("sz_a")

  /** Each candidate `(id_a, id_b)` with its payload `cols` fetched by
    * `id` from `payloadA`/`payloadB`, once per unique candidate. */
  private[graft] def withPayloads(cands: DataFrame, payloadA: DataFrame,
      payloadB: DataFrame, id: String, cols: String*): DataFrame =
    cands.join(pairSide(payloadA, "a", id, cols), "id_a")
      .join(pairSide(payloadB, "b", id, cols), "id_b")

  /** THE verify tail: `measure` scores each pair and pairs under
    * `threshold` drop → `(id_a, id_b, name)`, unrounded. */
  private[graft] def verified(pairs: DataFrame, name: String, threshold: Double)(
      measure: Column): DataFrame =
    pairs.withColumn(name, measure)
      .filter(col(name) >= threshold)
      .select("id_a", "id_b", name)

  // ---- MinHash pairs -------------------------------------------------

  /** Thresholded near-dup PAIR GRAPHS, each built ONCE per (session,
    * dir, params) and shared by the standalone pair query and the
    * cross-method dashboard ([[dedupSummary]]) — the same
    * materialize-the-pipeline-intermediate charter as
    * [[docShinglesShared]]/[[embPairsMemo]]: a dedup pipeline computes
    * its similarity graph once and every downstream consumer (summary,
    * clustering, representative selection) reads the materialized
    * frame. The memo values are post-threshold pair lists — orders
    * smaller than the corpus — and checkpoint blocks are owned by the
    * memoized frames ([[graft.SessionMemo]] session scoping). */
  private val pairsMemo = new graft.SessionMemo[DataFrame]()

  /** MinHash LSH near-dup pairs: signature → band buckets → candidate
    * pairs → exact-Jaccard verification at `threshold`.
    *
    * The band join is the scale path: candidates are only pairs sharing a
    * (band_idx, band_hash) bucket — O(n·bands) shuffle, no cross join. */
  def minhashPairs(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    pairsMemo.getOrCompute(spark, s"minhash|$dir|$threshold") {
      minhashPairsUncached(spark, dir, threshold)
    }

  private def minhashPairsUncached(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    // The shingle table feeds the signature AND both sides of the
    // verification join; it comes from the shared per-dir materialization
    // ([[docShinglesShared]]), so consecutive dedup queries never re-hash
    // the corpus.
    val sh = docShinglesShared(spark, dir)
    val sig = sh
      .withColumn("sig", minhashSig("sh")) // MinHashSig reduces into [0,p) itself
      .select(col("doc_id"), col("sh"), col("sig"))
    val nBands = NumPerm / BandRows
    val bandExprs = (0 until nBands).map { k =>
      val rows = (0 until BandRows).map(r => s"sig[${k * BandRows + r}]").mkString(", ")
      s"named_struct('band_idx', $k, 'band_hash', hash($rows))"
    }
    // The band frame feeds BOTH sides of the self-join; without a cache
    // each side re-evaluates the 128-permutation signature and the 32-band
    // explode from scratch (2× the dominant cost of the whole query).
    // Materialize it once — it's skinny (id, band_idx, band_hash) — and
    // let both join sides read the cached blocks.
    val banded = sig
      .withColumn("band", explode(expr(s"array(${bandExprs.mkString(", ")})")))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
    Tables.withCached(banded) {
      val cands = blockingJoin(banded, Seq("band_idx", "band_hash"), "doc_id")
        .select("id_a", "id_b")
        .distinct()
      verified(withPayloads(cands, sh, sh, "doc_id", "sh"), "jaccard", threshold)(
        jaccard("sh_a", "sh_b"))
    }
  }

  // ---- SimHash -------------------------------------------------------

  /** Per-doc 64-bit SimHash fingerprints — majority vote per bit across
    * distinct-token hashes, via the native codegen'd expression
    * ([[graft.functions.HashExpressions.SimHash64]]).
    *
    * Token hashes are the first 60 bits of md5 (15 hex chars →
    * `conv(_, 16, 10)`): cryptographically mixed — every vote bit is a
    * fair coin, unlike a character polynomial whose high bits stay 0 for
    * short tokens and collapse the fingerprint — AND exactly computable
    * in DuckDB, so the ENTIRE simhash pipeline (token hashes, per-bit
    * votes, banding, Hamming) is bit-replicable in the oracle, unlike
    * the engine-specific xxhash64 basis it replaces. Bits 60..63 are
    * structurally 0: 60 effective vote bits, random-pair Hamming ~30 —
    * an order of magnitude above the near-dup threshold. (A production
    * run would swap xxhash64 back in for speed; the pipeline is
    * basis-agnostic.) */
  def simhashDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        expr("""transform(array_distinct(split(text, ' ')), t ->
          CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))""").as("th"))
      .filter(size(col("th")) > 0)
      .select(col("doc_id"),
        graft.functions.HashExpressions.simhash64(col("th")).as("simhash"))

  /** SimHash near-dup pairs at Hamming distance ≤ maxHamming, blocked by
    * 4×16-bit bands. At maxHamming ≤ 3 the blocking is LOSSLESS by
    * pigeonhole — 3 differing bits can dirty at most 3 of the 4 bands —
    * so the exhaustive all-pairs Hamming filter is the exact DuckDB
    * oracle, not just a recall floor. */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    pairsMemo.getOrCompute(spark, s"simhash|$dir|$maxHamming") {
      simhashPairsUncached(spark, dir, maxHamming)
    }

  private def simhashPairsUncached(spark: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    val docs = simhashDocs(spark, dir)
    val banded = docs.withColumn("band",
        explode(expr("transform(sequence(0, 3), k -> named_struct('band_idx', k, 'band_val', (simhash >> (k * 16)) & 65535))")))
      .select(col("doc_id"), col("simhash"), col("band.band_idx"), col("band.band_val"))
    // the band frame feeds BOTH self-join sides — cached for the same
    // reason as minhashPairs (each side otherwise re-runs the per-token
    // md5 + simhash vote over the whole corpus)
    Tables.withCached(banded) {
      blockingJoin(banded, Seq("band_idx", "band_val"), "doc_id", Seq("simhash"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming)
    }
  }

  // ---- n-gram Jaccard (blocked, oracle-checkable) --------------------

  /** Blocked word-3-gram Jaccard via the FULL inverted-index join:
    * explode shingles, join postings on (lang, shingle), count common
    * shingles per pair, then jaccard = c / (|A| + |B| − c). Identical
    * results to the naive all-pairs intersect, but cost is
    * Σ_shingle df(s)² instead of O(block²·|sh|) — the only formulation
    * that survives 100 TB (a pair that shares no shingle never
    * materializes). Fully SQL-expressible → DuckDB oracle. */
  def ngramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.2): DataFrame =
    pairsMemo.getOrCompute(spark, s"ngram|$dir|$threshold") {
      ngramJaccardPairsUncached(spark, dir, threshold).localCheckpoint(true)
    }

  private def ngramJaccardPairsUncached(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    // Cache at the SHINGLE-TABLE level: the native shingle-hash loop runs
    // exactly once per doc; size/explode read the materialized arrays and
    // the join key is already an 8-byte hash.
    val docs = docShinglesShared(spark, dir)
    // the size-ratio prune drops blocked pairs BEFORE the aggregation
    val common = blockingJoin(postings(docs, "lang", "doc_id", "sz"),
        Seq("lang", "shingle"), "doc_id", Seq("sz"), sizeRatio(threshold))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("c"))
    verified(common, "jaccard", threshold)(
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** PPJoin-style PREFIX-FILTERED variant of [[ngramJaccardPairs]] —
    * identical output, asymptotically fewer candidates.
    *
    * The full inverted index pays Σ_shingle df(s)² candidate pairs over
    * EVERY shingle. The prefix-filtering theorem cuts that to the prefix:
    * order each doc's shingles by a global total order (ascending document
    * frequency, hash tiebreak) and index only the first
    * |sh| − ⌈t·|sh|⌉ + 1 of them — two docs with J ≥ t MUST collide in
    * those prefixes, and because the prefix holds each doc's RAREST
    * shingles, df(s)² there is tiny. Candidates then verify by exact set
    * intersection (native array ops), once per unique pair.
    *
    * Costs one extra df aggregation (skinny: 8-byte hash → count) and a
    * per-doc ordering window; saves the quadratic posting blow-up — the
    * trade that wins when df distributions are Zipfian, i.e. always at
    * corpus scale. */
  def ngramJaccardPairsPrefix(spark: SparkSession, dir: String, threshold: Double = 0.2): DataFrame =
    pairsMemo.getOrCompute(spark, s"ngram_prefix|$dir|$threshold") {
      ngramJaccardPairsPrefixUncached(spark, dir, threshold)
    }

  private def ngramJaccardPairsPrefixUncached(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val docs = docShinglesShared(spark, dir)
    val prefix = rarestFirstPrefix(postings(docs, "lang", "doc_id", "sz"),
        "doc_id", "shingle", prefixLength(col("sz"), threshold))
      .select("lang", "shingle", "doc_id", "sz")
    // the prefix frame feeds BOTH self-join sides — cached so the df
    // aggregation + per-doc ordering window run once, not per side
    // (the minhashPairs/simhashPairs band-frame rationale)
    Tables.withCached(prefix) {
      val cands = blockingJoin(prefix, Seq("lang", "shingle"), "doc_id", Seq("sz"),
          sizeRatio(threshold))
        .select("id_a", "id_b")
        .distinct()
      verified(withPayloads(cands, docs, docs, "doc_id", "sh"), "jaccard", threshold)(
          jaccard("sh_a", "sh_b"))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /** ASYMMETRIC CONTAINMENT near-dup: directed pairs where the smaller
    * doc's shingle set is ≥ `threshold` contained in the larger's —
    * C(A→B) = |sh_A ∩ sh_B| / |sh_A|. This is the sub-document
    * duplication detector symmetric Jaccard structurally misses: a
    * paragraph quoted inside a 10× longer page has C ≈ 1 but J ≈ 0.1,
    * so MinHash at 0.8 never sees it; training corpora deduplicate on
    * containment precisely to catch quote/boilerplate embedding
    * (the reference has no dedup at all — north-star extension).
    *
    * Scale shape: the prefix-filtering theorem carries over
    * ASYMMETRICALLY. If C(A→B) ≥ t then A misses at most
    * |A| − ⌈t·|A|⌉ shingles, so A's |A| − ⌈t·|A|⌉ + 1 RAREST shingles
    * must hit B — only that prefix of the contained side is indexed,
    * while the container side posts everything. Candidate cost is
    * Σ_s df_prefix(s)·df(s), linear in corpus size for Zipfian df when
    * t is high (prefix length ≈ |A|/10 at t = 0.9, and prefixes hold
    * each doc's rarest shingles by construction). Verification is one
    * exact set intersection per unique candidate pair. */
  def containmentPairs(spark: SparkSession, dir: String, threshold: Double = 0.9): DataFrame =
    pairsMemo.getOrCompute(spark, s"containment|$dir|$threshold") {
      containmentPairsUncached(spark, dir, threshold).localCheckpoint(true)
    }

  private def containmentPairsUncached(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val docs = docShinglesShared(spark, dir)
    val keys = Seq("lang", "shingle")
    val all = postings(docs, "lang", "doc_id", "sz")
    // side a is the contained side (its prefix only), side b the
    // container (every posting)
    val inSide = pairSide(rarestFirstPrefix(all, "doc_id", "shingle",
      prefixLength(col("sz"), threshold)), "a", "doc_id", Seq("sz"), keys)
    // Containment admits no symmetric size-ratio prune (the container may
    // be arbitrarily large), but the smaller-into-larger direction pins
    // each unordered pair to one candidate row — with an id tiebreak for
    // EQUAL sizes: `sz_a <= sz_b` alone admitted both directions of an
    // equal-size pair (exact duplicates are the common case), emitting
    // two rows for one unordered pair and double-counting it in every
    // downstream rollup.
    val cands = inSide.join(pairSide(all, "b", "doc_id", Seq("sz"), keys), keys)
      .filter(col("sz_a") < col("sz_b") ||
        (col("sz_a") === col("sz_b") && col("id_a") < col("id_b")))
      .select("id_a", "id_b")
      .distinct()
    verified(withPayloads(cands, docs, docs, "doc_id", "sh"), "containment", threshold)(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") / size(col("sh_a")))
      .select(col("id_a").as("id_in"), col("id_b").as("id_out"),
        round(col("containment"), 6).as("containment"))
  }

  /** DEDUP DASHBOARD — one row per method with its result count (groups
    * for exact, pairs for the rest): the cross-method summary a corpus
    * owner reads before choosing a dedup strategy, and a single query
    * that exercises every family at once (its oracle is COMPOSED from
    * the per-method oracle SQL, so agreement here re-checks all six
    * methods against the same texts). The shared shingle/embedding
    * memos mean the six branches reuse, not recompute, the heavy
    * intermediate frames. */
  def dedupSummary(spark: SparkSession, dir: String): DataFrame = {
    def one(method: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_results"))
        .select(lit(method).as("method"), col("n_results"))
    one("exact", exact(spark, dir))
      .unionAll(one("minhash", minhashPairs(spark, dir)))
      .unionAll(one("simhash", simhashPairs(spark, dir)))
      .unionAll(one("ngram", ngramJaccardPairs(spark, dir)))
      .unionAll(one("containment", containmentPairs(spark, dir)))
      .unionAll(one("embedding", embeddingPairs(spark, dir, 0.4)))
  }

  /** BLOCKING-COST LEDGER for the shingle inverted index — the numbers
    * that justify (or veto) the prefix filter BEFORE running the join:
    * per language, block count, posting volume, heaviest block, the full
    * inverted-index candidate cost Σ_s C(df(s), 2), and the posting
    * volume the prefix filter would index (Σ_doc |sh| − ⌈t·|sh|⌉ + 1 — a
    * function of doc sizes only, so tie-order-free and exactly
    * replayable). hotShingleProfile names the worst offenders; this is
    * the aggregate cost model a planner reads. All integer counts, one
    * rounded reduction ratio; reuses the memoized shingle frame. */
  def blockingCost(spark: SparkSession, dir: String, threshold: Double = 0.2): DataFrame = {
    val docs = docShinglesShared(spark, dir)
    val blocks = postings(docs, "lang")
      .groupBy("lang", "shingle").agg(count(lit(1)).as("b"))
    val full = blocks.groupBy("lang").agg(
      count(lit(1)).as("n_blocks"), sum("b").as("n_postings"),
      max("b").as("max_block"),
      sum(expr("b * (b - 1) div 2")).as("full_pairs"))
    val pre = docs.groupBy("lang").agg(
      sum(prefixLength(col("sz"), threshold)).as("n_prefix_postings"))
    full.join(pre, "lang")
      .select(col("lang"), col("n_blocks"), col("n_postings"), col("max_block"),
        col("full_pairs"), col("n_prefix_postings"),
        round(lit(1.0) - col("n_prefix_postings").cast("double") / col("n_postings"), 6)
          .as("posting_reduction"))
  }

  /** Fuzzy ENTITY MATCHING: near-identical part names within edit
    * distance ≤ `maxDist` — the classic entity-resolution shape
    * (blocking → exact verify), run on the DISTINCT name vocabulary:
    * matching 20k id-level rows would re-compare the same few dozen
    * names millions of times, while the vocabulary is the entity set a
    * canonicalization step actually maps.
    *
    * Blocking is Ed-Join-style Q-GRAM PREFIX FILTERING (the PPJoin
    * prefix trick of [[ngramJaccardPairsPrefix]], carried to edit
    * distance): one edit disturbs at most `q` of a string's q-grams, so
    * strings within `maxDist` edits share all but ≤ `maxDist·q` grams —
    * order each name's distinct 3-grams by ascending global frequency
    * and any qualifying pair MUST collide inside the first
    * `maxDist·q + 1` (= 7) of them. Candidates therefore form by
    * equi-join on the RAREST grams only (df² there is tiny), plus the
    * length filter |len_a − len_b| ≤ maxDist; the quadratic DP runs
    * per candidate pair, never per length band — the previous
    * length-window blocking made EVERY same-length pair a candidate,
    * O(k²) per band once distinct names scale. Names short enough that
    * the count filter can't guarantee a shared gram
    * (len ≤ q−1+maxDist·q = 8; none exist in TPC-H p_name) fall back to
    * the length-window join, so the candidate set provably loses no
    * pair. `levenshtein` has identical semantics in DuckDB → exact
    * oracle; `InvariantSpec` pins output identity against the unblocked
    * cross join and sub-quadratic candidate counts. */
  def fuzzyNameMatch(spark: SparkSession, dir: String, maxDist: Int = 2): DataFrame =
    fuzzyNameCandidates(spark, dir, maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)

  /** Candidate stage of [[fuzzyNameMatch]], exposed so the spec can
    * assert the blocking is sub-quadratic (not just correct). */
  private[graft] def fuzzyNameCandidates(
      spark: SparkSession, dir: String, maxDist: Int): DataFrame = {
    val q = 3
    val names = Tables.load(spark, dir, "part")
      .select("p_name").distinct()
      .withColumn("len", length(col("p_name")))
    val grams = names.withColumn("gram",
      explode(expr(
        s"array_distinct(transform(sequence(1, greatest(len - ${q - 1}, 1)), i -> substring(p_name, i, $q)))")))
    val prefix = rarestFirstPrefix(grams, "p_name", "gram", lit(maxDist * q + 1))
    def named(pairs: DataFrame): DataFrame =
      pairs.select(col("id_a").as("name_a"), col("id_b").as("name_b"))
    val candLong = named(blockingJoin(prefix, Seq("gram"), "p_name", Seq("len"),
      abs(col("len_a") - col("len_b")) <= maxDist))
    // Completeness fallback: the q-gram count filter only forces a shared
    // gram when max(len) > q − 1 + maxDist·q; shorter names (none in the
    // test corpus, but the bound must not depend on data) keep the
    // original length-window blocking over their (tiny) subset.
    val short = names.filter(col("len") <= q - 1 + maxDist * q)
    val bandedShort = short.withColumn("blen",
      explode(expr(s"sequence(len - $maxDist, len)")))
    val candShort = named(blockingJoin(bandedShort, Seq("blen"), "p_name"))
    candLong.unionAll(candShort).distinct()
  }

  /** ENTITY CANONICALIZATION — the step after [[fuzzyNameMatch]] in an
    * entity-resolution pipeline: connected components over the fuzzy
    * match graph (A~B~C chains collapse even when A,C don't match
    * directly), each cluster canonicalized to its lexicographically
    * smallest member, emitted as a complete name→canonical mapping
    * (singletons map to themselves — the mapping must cover the whole
    * vocabulary to be applicable as a join). The labelling is the same
    * [[minLabelComponents]] the doc/embedding cluster paths use — it
    * orders ids in Spark's ordering for their type, UTF8String byte order
    * here, so the min is Spark's `min` over names — and the match graph
    * it runs on is the q-gram
    * prefix-blocked candidate set, so the whole pipeline
    * (block → verify → cluster → canonicalize) is sub-quadratic.
    * `levenshtein` + recursive reachability replay exactly in DuckDB →
    * full oracle. */
  def fuzzyCanonical(spark: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    val pairs = fuzzyNameMatch(spark, dir, maxDist)
      .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
    val comp = minLabelComponents(pairs)
    Tables.load(spark, dir, "part").select("p_name").distinct()
      .join(comp.select(col("id").as("p_name"), col("comp")), Seq("p_name"), "left")
      .select(col("p_name"),
        coalesce(col("comp"), col("p_name")).as("canonical"))
  }

  /** INCREMENTAL DEDUP — the production dedup shape: a NEW batch (one
    * `source` partition, standing in for today's crawl) checked against
    * the EXISTING corpus, per new document: how many historical near-dups
    * it has and the best Jaccard among them. Unlike the all-pairs
    * queries, candidate generation is the ASYMMETRIC inverted-index join
    * new-postings ⋈ old-postings — cost is linear in the new batch's
    * posting lists times historical df, and a new doc sharing no shingle
    * with history never materializes a candidate. At 100 TB the old side
    * is the persisted posting index a nightly pipeline maintains; the
    * new side is the day's arrivals. Output is the per-arrival VERDICT —
    * one row per new document including docs too short to shingle
    * (< 3 tokens), which are keepers by definition; `is_dup` marks the
    * drops. Integer intersection counts → exact Jaccard ratios →
    * bit-exact oracle.
    *
    * HOT-SHINGLE GUARD: a boilerplate shingle appearing in k_new new
    * docs and k_old corpus docs would materialize k_new×k_old candidate
    * rows ON ONE REDUCER KEY — at 100 TB one viral template melts the
    * stage. Shingles with document frequency > `dfCap` are cut from
    * CANDIDATE GENERATION ONLY (a broadcast anti-join against the tiny
    * hot list); verification then scores each surviving candidate pair
    * EXACTLY on the full shingle arrays, so the guard changes results
    * only for pairs whose every common shingle is hot — near-100%
    * -boilerplate docs, which a stop-shingle cut is standard practice
    * to drop. The observed max df in the test corpora is 14, so the
    * default cap (1000) never engages there and output is provably
    * identical (pinned in `InvariantSpec` together with a synthetic
    * boilerplate-injection check of the guard mechanics). */
  def dedupIncremental(spark: SparkSession, dir: String,
      newSource: String = "src1", threshold: Double = 0.2,
      dfCap: Long = 1000L): DataFrame = {
    val src = Tables.load(spark, dir, "documents").select("doc_id", "source")
    val docs = docShinglesShared(spark, dir).join(src, "doc_id")
    incrementalVerdicts(
      docs.filter(col("source") === newSource),
      docs.filter(col("source") =!= newSource),
      Tables.load(spark, dir, "documents")
        .filter(col("source") === newSource).select("doc_id"),
      threshold, dfCap)
  }

  /** The candidate-generate → exact-verify → verdict core of
    * [[dedupIncremental]], parameterized on the two shingled sides and
    * the full new-batch id list so the spec can drive it with synthetic
    * boilerplate injected. `newDocs`/`oldDocs` carry (doc_id, lang,
    * sh); `allNew` is every new-batch doc id (shingleable or not). */
  private[graft] def incrementalVerdicts(
      newDocs: DataFrame, oldDocs: DataFrame, allNew: DataFrame,
      threshold: Double, dfCap: Long): DataFrame = {
    val keys = Seq("lang", "shingle")
    val newP = postings(newDocs, "lang", "doc_id")
    val oldP = postings(oldDocs, "lang", "doc_id")
    // df over BOTH sides: the guard must catch a template that is hot in
    // the corpus, in the arrivals, or across them. The hot list is
    // vocabulary-scale × pathology-only — broadcast by construction.
    val hot = newP.select(col("lang"), col("shingle"))
      .unionAll(oldP.select(col("lang"), col("shingle")))
      .groupBy("lang", "shingle").agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") > dfCap)
      .select("lang", "shingle")
    // side a is the new batch, side b the corpus
    def coldSide(p: DataFrame, s: String): DataFrame =
      pairSide(p, s, "doc_id", Nil, keys).join(broadcast(hot), keys, "left_anti")
    val cands = coldSide(newP, "a").join(coldSide(oldP, "b"), keys)
      .select("id_a", "id_b").distinct()
    // Exact verification on the FULL shingle arrays — hot shingles count
    // toward the Jaccard even though they never generate candidates.
    val matches = verified(withPayloads(cands, newDocs, oldDocs, "doc_id", "sh"), "j", threshold)(
        jaccard("sh_a", "sh_b"))
      .groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        round(max("j"), 6).as("best_jaccard"))
    allNew
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_jaccard"),
        col("n_matches").isNotNull.cast("int").as("is_dup"))
  }

  /** Connected components over the near-dup pair graph — the step that
    * turns pairwise matches into dedup CLUSTERS with one canonical keeper
    * (min doc_id) per cluster, so "keep one copy" is well-defined even
    * when duplicates chain A~B~C without A~C matching directly.
    *
    * Every vertex is labelled with the minimum id of its component
    * ([[minLabelComponents]]): a pair graph that fits one partition is
    * union-found in a single task; a larger one runs distributed
    * min-label propagation rounds (the join-formulated version of the
    * large-star/small-star MapReduce CC algorithm). Either way the labels
    * come back localCheckpoint'd, so the plan stays flat. */
  private val componentsMemo = new graft.SessionMemo[DataFrame]()

  /** Memoized per (session, dir, threshold): the labelling runs once
    * per session even when several consumers (the
    * components query, [[dedupRepresentative]]) ask for the same graph —
    * the final labels frame is localCheckpoint'd, so the cached result
    * is data, not a recomputation recipe. Session-scoping and
    * lock-discipline per [[graft.SessionMemo]]. */
  def dedupComponents(spark: SparkSession, dir: String, threshold: Double = 0.2): DataFrame =
    componentsMemo.getOrCompute(spark, s"$dir|$threshold") {
      dedupComponentsUncached(spark, dir, threshold)
    }

  private def dedupComponentsUncached(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    minLabelComponents(
      ngramJaccardPairsPrefix(spark, dir, threshold).select("id_a", "id_b"))
      .select(col("id").as("doc_id"), col("comp").as("component_id"))

  /** Adjacency rows one partition of the label-propagation loop takes:
    * the loop derives its shuffle width from it, and a pair graph whose
    * symmetric adjacency stays under it is labelled in one task instead
    * ([[labelsInOneTask]]). */
  private[graft] val AdjacencyRowsPerPartition = 2000000L

  /** Whether a symmetric adjacency of `adjRows` rows is labelled by one
    * union-find task rather than the rounds: exactly the graphs the loop
    * would run in a single partition at any session width. A function of
    * the row count alone — the session width caps the loop's partitions
    * ([[loopPartitions]]) and never moves this choice. */
  private[graft] def labelsInOneTask(adjRows: Long,
      bound: Long = AdjacencyRowsPerPartition): Boolean = adjRows < bound

  /** The loop's shuffle width: one partition per budget of adjacency
    * rows, floor 1, capped at the session width so a genuinely huge pair
    * graph keeps the session's parallelism. */
  private[graft] def loopPartitions(adjRows: Long, width: Long): Long =
    math.max(1L, math.min(width, adjRows / AdjacencyRowsPerPartition + 1L))

  /** Connected components of an undirected pair list `(id_a, id_b)` →
    * `(id, comp)` where comp = min id reachable, in Spark's ordering for
    * the id type (Long doc/vector ids, or UTF8String byte order for
    * [[fuzzyCanonical]]'s names). Shared by the text
    * ([[dedupComponents]], [[dedupRepresentative]]), embedding
    * ([[embeddingClusters]]) and entity ([[fuzzyCanonical]]) cluster
    * paths.
    *
    * The frames are post-threshold pair lists — orders smaller than the
    * corpus — so the cost is fixed per-job driver overhead and the
    * classes each job compiles, not data. One count job sizes the
    * symmetric adjacency (2 rows per pair); a graph under `oneTaskBound`
    * rows (the loop's own per-partition budget) is labelled by
    * [[unionFindLabels]] — one labelling job, no rounds, no conf scope —
    * and only a larger graph runs the distributed rounds of
    * [[roundLabels]]. Both reach the same min-reachable fixpoint, which
    * the DuckDB recursive-reachability oracle and `PropertySpec`'s
    * union-find reference pin; specs pass `oneTaskBound = 0` to reach the
    * rounds on small graphs. */
  private[graft] def minLabelComponents(edges: DataFrame,
      oneTaskBound: Long = AdjacencyRowsPerPartition): DataFrame = {
    val pairs = edges.select("id_a", "id_b")
    // the pair RDD is built once: the labelling job over it reuses any
    // shuffle output the count job materialized upstream
    val pairRows = pairs.queryExecution.toRdd
    val adjRows = 2L * pairRows.count()
    if (labelsInOneTask(adjRows, oneTaskBound)) unionFindLabels(pairs, pairRows)
    else roundLabels(pairs, adjRows)
  }

  /** One-task labelling: the pair rows are coalesced into a single
    * partition, the distinct ids sorted in Spark's ordering for their
    * type, and the edges union-found over the sorted indexes, always
    * hanging the larger root under the smaller — so each root is its
    * component's minimum id, exactly the fixpoint of the rounds. Emits
    * one `(id, comp)` row per id and truncates the lineage
    * (`localCheckpoint`) like the rounds' final labels. */
  private def unionFindLabels(pairs: DataFrame, pairRows: RDD[InternalRow]): DataFrame = {
    val idType = pairs.schema("id_a").dataType
    val labels = pairRows.coalesce(1).mapPartitions { rows =>
      val ord = TypeUtils.getInterpretedOrdering(idType)
      // pair k's endpoints sit at 2k and 2k+1; values are copied because
      // the upstream operator may reuse its row buffers
      val ends = mutable.ArrayBuffer.empty[Any]
      rows.foreach { r =>
        ends += InternalRow.copyValue(r.get(0, idType))
        ends += InternalRow.copyValue(r.get(1, idType))
      }
      val sorted = ends.toArray.sorted(ord)
      val ids = mutable.ArrayBuffer.empty[Any]
      sorted.foreach(v => if (ids.isEmpty || !ord.equiv(ids.last, v)) ids += v)
      def indexOf(v: Any): Int = ids.search(v)(ord).insertionPoint
      val parent = Array.tabulate(ids.length)(identity)
      def find(i: Int): Int = {
        var root = i
        while (parent(root) != root) root = parent(root)
        var j = i
        while (parent(j) != root) { val up = parent(j); parent(j) = root; j = up }
        root
      }
      var k = 0
      while (k < ends.length) {
        val (ra, rb) = (find(indexOf(ends(k))), find(indexOf(ends(k + 1))))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        k += 2
      }
      ids.indices.iterator.map(i =>
        new GenericInternalRow(Array[Any](ids(i), ids(find(i)))): InternalRow)
    }.localCheckpoint()
    val n = labels.count()
    ColumnBridge.materialized(pairs.sparkSession, labels,
      StructType(Seq(StructField("id", idType), StructField("comp", idType))), n)
  }

  /** The distributed rounds, for pair graphs too large for one task.
    *
    * Min-label propagation; the round count is the whole game
    * (round-21 profile: the old one-hop loop ran the embedding cluster
    * graph to ~30 rounds = 127 driver jobs for 3 s of wall on
    * milliseconds of compute). Three levers, all output-invariant (any
    * correct propagation reaches the same min-reachable fixpoint):
    *   - labels START at min(id, min neighbor) — init buys hop 1 free;
    *   - each round takes ONE keyed min over THREE label sources — own
    *     label, neighbor labels (one hop), and label-of-label (PATH
    *     DOUBLING: comp ← comp(comp), the pointer-jumping half of
    *     classic two-phase CC) — so label reach more than DOUBLES per
    *     round and a diameter-d chain converges in O(log d) rounds
    *     instead of d (the r20 note measured jumping as SEPARATE rounds
    *     net-negative; folded into the same keyed min it costs one extra
    *     tiny-frame join inside the round's single job, not a round);
    *   - the OWN label rides the union as a second column, so the
    *     convergence check is `comp < own` COUNTED on the frame the
    *     round just checkpointed — no join, runs EVERY round, and the
    *     loop stops the round convergence happens.
    * Lineage truncated per round (localCheckpoint) so plans stay flat;
    * the driver loop holds only a changed-row COUNT, never data. */
  private def roundLabels(edges: DataFrame, adjRows: Long): DataFrame = {
    // adj materializes under the CALLER's conf (its lineage may hold the
    // corpus-sized pair mining, which wants AQE); everything after runs
    // under the loop conf below.
    val adj0 = edges.unionAll(
      edges.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint(true)
    val spark = adj0.sparkSession
    // Loop conf: each round is one fixed-shape materialization over a
    // frame orders smaller than the corpus, so shuffle parallelism
    // derives from the adjacency size ([[loopPartitions]]) and AQE is
    // OFF — adaptive per-stage re-planning only multiplies driver jobs
    // (round-21 profile: 112 jobs for 3 s of summed executor work on the
    // embedding cluster graph) while the coalescing it would buy is what
    // the derived count already provides. Conf is read per action, so
    // the scope is exact.
    val width = spark.conf.get("spark.sql.shuffle.partitions").toLong
    GraftSession.withConfs(spark, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> loopPartitions(adjRows, width).toString) {
    var labels = adj0
      .groupBy(col("id_a"))
      .agg(min("id_b").as("nbr_min"))
      .select(col("id_a").as("id"),
        least(col("id_a"), col("nbr_min")).as("comp"))
      .localCheckpoint(true)
    // CONTRACTION (round 22, verdict item 3): the edge list is REWRITTEN
    // into label space after every round — (a,b) → (comp(a), comp(b)),
    // self-loops dropped, duplicates collapsed — so the per-round
    // neighbor join runs over a SHRINKING frame instead of re-walking
    // the full adjacency every round (the 100 TB cost of the old loop:
    // |E| joined per round regardless of progress; a near-dup cluster
    // contracts to nothing after 1-2 rounds). Connectivity dropped from
    // the edge list lives on in the label pointers: a node whose edges
    // contracted away keeps tracking its label's label via the jump
    // branch, which doubles reach per round, so chains still converge in
    // O(log d) rounds. The fixpoint is unchanged (PropertySpec union-find
    // + the recursive DuckDB oracle pin it): stability under own∪nbr∪jump
    // still forces comp idempotent and constant across every original
    // edge — an edge contracted at round j had comp_j(a) = comp_j(b),
    // and both endpoints' labels track the same pointer chain thereafter.
    var adj = adj0
    // comp values are always node ids (mins over node ids), and `cur`
    // covers every node, so the label-of-label inner join loses nothing.
    // The helper is type-generic (the fuzzy-canonical graph keys on
    // STRINGS), so the non-own branches' null must carry the id type.
    val idType = edges.schema("id_a").dataType
    def step(cur: DataFrame, adjCur: DataFrame): DataFrame = {
      val nullOwn = lit(null).cast(idType).as("own")
      val own = cur.select(col("id"), col("comp").as("c"), col("comp").as("own"))
      val nbr = adjCur
        .join(cur.select(col("id").as("id_b"), col("comp").as("c")), "id_b")
        .select(col("id_a").as("id"), col("c"), nullOwn)
      val jump = cur
        .join(cur.select(col("id").as("_cid"), col("comp").as("cc")),
          col("comp") === col("_cid"))
        .select(col("id"), col("cc").as("c"), nullOwn)
      own.unionAll(nbr).unionAll(jump)
        .groupBy("id").agg(min("c").as("comp"), max("own").as("own"))
        .localCheckpoint(true)
    }
    def contract(adjCur: DataFrame, cur: DataFrame): DataFrame = adjCur
      .join(cur.select(col("id").as("id_a"), col("comp").as("_ca")), "id_a")
      .join(cur.select(col("id").as("id_b"), col("comp").as("_cb")), "id_b")
      .filter(col("_ca") =!= col("_cb"))
      .select(col("_ca").as("id_a"), col("_cb").as("id_b"))
      .distinct()
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    val maxRounds = 30
    // a superseded round's checkpoint is dead once the next round has
    // materialized; dropping its blocks keeps the block-manager footprint
    // at one round instead of every round (the caller's `edges` is never
    // touched: only this loop's own checkpoints are released)
    def release(df: DataFrame): Unit =
      df.queryExecution.logical.collectLeaves().foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ =>
      }
    while (changed > 0 && rounds < maxRounds) {
      val next = step(labels, adj)
      // labels are monotone non-increasing: comp < own ⇔ this round moved
      changed = next.filter(col("comp") < col("own")).count()
      release(labels)
      labels = next.select("id", "comp")
      if (changed > 0) {
        val prevAdj = adj
        adj = contract(adj, labels)
        release(prevAdj)
      }
      rounds += 1
    }
    release(adj)
    // the round cap is a lineage/driver-loop bound, NOT a correctness
    // device: a pair graph with propagation distance > maxRounds would
    // otherwise return silently WRONG component labels. Convergence now
    // checks every round, so the cap can only bind with changed > 0 —
    // fail loudly instead of emitting unconverged labels.
    require(changed == 0,
      s"minLabelComponents: $changed labels still changing after " +
        s"$maxRounds rounds — pair-graph diameter exceeds the round cap")
    labels
    }
  }

  /** HOT-SHINGLE PROFILE — per-language top-`topK` shingles by document
    * frequency: the boilerplate census that FEEDS the
    * [[dedupIncremental]] hot-shingle guard (and any stop-shingle cut) —
    * a pipeline operator in its own right, because the stop list must be
    * recomputed as the corpus drifts. One vocabulary-scale rollup
    * ((lang, shingle) → df), then the TWO-PHASE per-language top-k of
    * [[GlobalOrder.withShardedGroupTopK]]: phase 1 ranks within (lang,
    * shingle-hash bucket) lanes — each holds ~vocab/`buckets` types,
    * never the whole per-language vocabulary — phase 2 merges the ≤
    * buckets×topK survivors per language (exactness argument at the
    * helper). Shingles travel as strings here so the DuckDB oracle is
    * exact; at 100 TB the key would be the 64-bit shingle hash, same
    * plan shape (the [[duplicatedSpans]] note). */
  def hotShingleProfile(spark: SparkSession, dir: String, topK: Int = 20,
      buckets: Int = 32): DataFrame = {
    // the SAME shingling definition the dedup joins block on
    // ([[graft.functions.VecText.shingles3]]) — an inline re-derivation
    // here could silently diverge from the sets the stop list guards;
    // explode drops the empty arrays short docs produce
    val g = Tables.load(spark, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), col("lang"),
        explode(shingles3("tk")).as("shingle"))
    val dfreq = g.groupBy("lang", "shingle").agg(count(lit(1)).as("df"))
    GlobalOrder.withShardedGroupTopK(dfreq, Seq("lang"), col("shingle"),
      topK, "rank", buckets)(col("df").desc, col("shingle").asc)
  }

  /** DUPLICATED-SPAN DETECTION — per-document fraction of exact
    * `width`-token windows that recur anywhere in the corpus (including
    * within the same document), the Lee-et-al-style exact-substring
    * duplication signal that catches boilerplate headers/footers and
    * templated spans that whole-document dedup misses.
    *
    * Windows are POSITIONAL (every offset, not a distinct set — a doc
    * that repeats its own span counts it twice, which is the signal).
    * The only shuffle keys on the span: count occurrences, join back,
    * per-doc rollup — linear in corpus token count. Spans travel as
    * 64-BIT HASHES (round 15): the output carries no span text — only
    * per-document counts — so the ~50-byte window strings never need to
    * leave the map side; hashing them to 8-byte keys cuts the two
    * span-keyed shuffles' width ~5× (measured 1.86 → 0.7 s at sf0.1,
    * the 100 TB shape the previous docstring promised). The DuckDB
    * oracle still groups on the exact strings — a hash collision would
    * fail the parity check, with odds ~(distinct spans)²/2⁶⁵ ≈ 1e-7 at
    * the 10× corpus. */
  def duplicatedSpans(spark: SparkSession, dir: String, width: Int = 8): DataFrame = {
    val g = Tables.load(spark, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= width)
      .select(col("doc_id"), explode(
        expr(s"transform(sequence(0, size(tk) - $width), i -> array_join(slice(tk, i + 1, $width), ' '))"))
        .as("gs"))
      .select(col("doc_id"), xxhash64(col("gs")).as("g"))
    // Pre-aggregate to the (doc, span) grain FIRST (round 21): the old
    // shape grouped the positional stream and then joined the counts
    // back onto the SAME positional stream — re-running the explode +
    // hash over the corpus a second time and shuffling every positional
    // row twice. One (doc_id, g) aggregation carries a multiplicity k;
    // corpus totals are a re-aggregation of that strictly smaller frame
    // (cnt = Σ k per span, the exact positional count as before), and
    // the join attaches totals to distinct (doc, span) rows only.
    // n_windows = Σ k and n_dup = Σ k·[cnt ≥ 2] are identities of the
    // old per-row sums — bit-identical output.
    val wg = g.groupBy("doc_id", "g").agg(count(lit(1)).as("k"))
    val counts = wg.groupBy("g").agg(sum("k").as("cnt"))
    wg.join(counts, "g")
      .groupBy("doc_id")
      .agg(sum("k").as("n_windows"),
        sum(when(col("cnt") >= 2, col("k")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_windows")).as("dup_frac"))
  }

  /** CLUSTER REPRESENTATIVE SELECTION — for every near-dup component
    * from [[dedupComponents]], keep the best document (highest
    * [[TextAnalysis.qualityScore]], smallest doc_id on ties) and report
    * the cluster size: the "which copy survives dedup" decision a
    * curation pipeline makes after clustering.
    *
    * The argmax is ONE keyed aggregation — `min(struct(-quality, doc_id,
    * quality))` rides map-side partial aggregation, so no per-component
    * sort window and no shuffle of anything but (component, 24-byte
    * struct) pairs. */
  def dedupRepresentative(spark: SparkSession, dir: String,
      threshold: Double = 0.2): DataFrame = {
    val comp = dedupComponents(spark, dir, threshold)
    val q = TextAnalysis.qualityScore(spark, dir).select("doc_id", "quality")
    comp.join(q, "doc_id")
      .withColumn("k",
        struct((-col("quality")).as("nq"), col("doc_id"), col("quality")))
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_members"), min("k").as("k"))
      .select(col("component_id"), col("n_members"),
        col("k.doc_id").as("rep_doc"), col("k.quality").as("rep_quality"),
        (col("n_members") - 1).cast("long").as("n_dropped"))
  }

  // ---- embedding near-dup --------------------------------------------

  private val embPairsMemo = new graft.SessionMemo[DataFrame]()

  /** Embedding cosine near-dup pairs — exact all-pairs within the corpus,
    * built ONCE per (session, dir, threshold) and shared by the pair
    * query, [[embeddingClusters]], the dedup dashboard and the LSH recall
    * audit — the "compute the similarity graph once" step of a
    * semantic-dedup pipeline; the materialized frame holds only the
    * thresholded pairs, not the candidate set.
    *
    * The quadratic pair scan is NOT an accident here: at a low threshold
    * (0.4) on a weakly-clustered embedding space, exact pair mining is
    * Ω(n²) — measured on this corpus, member→centroid angles are ~70°
    * against arccos(0.4) ≈ 66°, so a triangle-inequality bound over IVF
    * buckets prunes NOTHING (measured bucket-pair survival 1.0 at
    * sf0.001, sf0.01 and sf0.1) and exhaustive hyperplane banding is
    * equally impossible (near-boundary band-collision degenerates to
    * all-pairs). Every EXACT engine, including the DuckDB oracle, pays
    * the same n² — so this formulation makes it fast rather than
    * pretending to avoid it: codegen'd dot on predeclared norms, and the
    * left side repartitioned so the cross join parallelizes across the
    * cluster instead of planning as a single 1×1-partition task
    * (measured 32× task-parallelism win). At 100 TB the semantics
    * themselves must change — the documented swap-ins are the
    * recall-floored LSH miner ([[Similarity.lshEmbeddingPairs]]) or ANN
    * top-k ([[Similarity]]). */
  def embeddingPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    embPairsMemo.getOrCompute(spark, s"$dir|$threshold") {
      // Norms are computed ONCE per vector, not per pair (3× fewer array
      // folds); cos = dot/(na·nb) is bit-identical to the oracle formula.
      // Zero-norm vectors are DROPPED (round 15, engine-wide cosine
      // semantics): their 0/0 = NaN cosine orders above every double in
      // Spark, so `NaN >= threshold` would emit bogus pairs, and the
      // banded miner excludes them too. Mirrored in the oracle.
      val e = Similarity.withNorms(Similarity.corpus(spark, dir))
      val vec = Seq("emb_d", "nrm")
      Similarity.cosineVerified(
        pairSide(e.repartition(col("vec_id")), "a", "vec_id", vec)
          .crossJoin(pairSide(e, "b", "vec_id", vec))
          .filter(col("id_a") < col("id_b")),
        threshold)
        .localCheckpoint(true)
    }

  /** Deterministic 3-view AUGMENTED corpus over `embeddings` — THREE
    * perturbed near-copies per vector (per-coordinate multipliers
    * 0.97…1.03 derived from exact integer arithmetic, so the DuckDB
    * oracle replays the derivation bit-for-bit; view 0 is perturbed
    * too — no row equals the source embedding, so don't join views
    * back to `embeddings` expecting bit-equality). This is the
    * contrastive-training /
    * re-crawl shape where DUP-GRADE near-duplicates genuinely exist:
    * views of the same source sit at cos ≈ 0.999 while cross-source
    * cosines keep the base corpus's ≤ ~0.6 spread — the regime tight-
    * threshold dedup operates in, which the raw synthetic corpus (pair
    * cosines capped near 0.5) cannot exhibit. View ids are
    * `vec_id * 4 + view`, so provenance survives the id arithmetic. */
  private[graft] def augmentedCorpus(spark: SparkSession, dir: String): DataFrame =
    Similarity.corpus(spark, dir)
      .select(col("vec_id"), col("emb_d"))
      .withColumn("view", explode(array(lit(0), lit(1), lit(2))))
      .select((col("vec_id") * 4 + col("view")).as("vec_id"),
        expr("""transform(sequence(1, size(emb_d)),
                 i -> element_at(emb_d, i) *
                      (CAST(100 + ((i * 31 + (view + 1) * 17) % 7) - 3 AS DOUBLE)
                       / CAST(100 AS DOUBLE)))""").as("emb_d"))

  /** TIGHT-THRESHOLD embedding near-dup pairs over the augmented corpus
    * — the scale-safe oracled representative of the embedding-dedup
    * family: hyperplane-LSH banded candidates + exact cosine verify
    * ([[Similarity.lshEmbeddingPairs]]), the plan a 100 TB semantic
    * dedup actually runs (banding + equi-joins, NO corpus-wide cross
    * join — plan-shape pinned). Band width is the threshold-dependent
    * dial: at dup-grade thresholds the views sit θ ≈ 1-2° apart
    * (per-bit agreement p = 1−θ/π ≥ 0.99), so WIDE 24-bit bands still
    * catch every true pair — miss probability (1−p^24)^32 ≈ 1e-21, and
    * with FIXED seeded planes the outcome is deterministic, so the
    * exhaustive DuckDB pair oracle matches exactly, giving the banded
    * path real oracle weight (not just the recall-floor spec) — while a
    * random cross-source pair collides per band at only 2^-24. The
    * loose-threshold default (6-bit bands, [[Similarity
    * .lshEmbeddingPairs]]) admits random pairs at 2^-6 per band — that
    * is Ω(n²/64) candidate volume, measured as a single-task 25-minute
    * stall at the 10× scale bench before this dial existed; 24-bit
    * bands cut the same mining to seconds with zero recall loss AT THIS
    * threshold (they would gut recall at 0.4, which is why the width is
    * per-query, not global). */
  def tightEmbeddingPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame =
    Similarity.lshEmbeddingPairs(augmentedCorpus(spark, dir), threshold,
      nBits = 768, nBands = 32)

  /** SEMANTIC-DEDUP CLUSTERS — the SemDeDup-style end of the embedding
    * near-dup path: connected components over the memoized exact cosine
    * pair graph ([[embeddingPairs]]), rolled up per cluster with member count,
    * dropped count (keep-one semantics), and distinct-label count (a
    * purity signal: a cluster spanning several labels marks embeddings
    * that collapse classes — exactly what a curation pass inspects
    * before deleting). Exact pairs are the oracle baseline; the
    * hyperplane-LSH candidate path in [[Similarity]] swaps in at corpus
    * scale, and the component step is the same [[minLabelComponents]]
    * the text path uses. */
  def embeddingClusters(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    val comp = minLabelComponents(
      embeddingPairs(spark, dir, threshold).select("id_a", "id_b"))
    comp.join(
        Tables.load(spark, dir, "embeddings")
          .select(col("vec_id").as("id"), col("label")), "id")
      .groupBy(col("comp").as("component_id"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct("label").as("n_labels"))
      .withColumn("n_dropped", (col("n_members") - 1).cast("long"))
  }
}
