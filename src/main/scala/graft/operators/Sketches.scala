package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch aggregation — the 100 TB distinct-counting and
  * heavy-hitter pattern the engine's exact operators deliberately do not
  * cover: pre-aggregate each partition/day into a CONSTANT-SIZE sketch,
  * then merge sketches instead of re-scanning rows. This is the shape
  * that turns "distinct users per segment, any date range" from a
  * fact-table scan per question into a sketch-table scan (thousands of
  * rows), and it is why the sketch column is first-class here rather
  * than an approx function call: the INTERMEDIATE is the product.
  *
  * No DuckDB oracle can check estimates across engines (different
  * sketch families), so both queries are rows-only with spec-pinned
  * error floors against the exact answers at test scale
  * (`SketchSpec`) — the same discipline as ANN recall.
  */
object Sketches {

  /** HLL SKETCH ROLLUP over events: build one HyperLogLog sketch of
    * `user_id` per (day, event_type) — the grain a 100 TB pipeline would
    * persist as a sketch table — then merge the daily sketches per type
    * with `hll_union_agg` and estimate. The audit columns hold the exact
    * distinct count (computed independently; affordable at test scale,
    * DROPPED at 100 TB where the sketch table IS the source) and the
    * day count, so the spec can pin relative error without a second
    * query. lgK = 14 ⇒ ~0.8% standard error in ~16 KB per sketch; the
    * merged estimate is datasketches-deterministic for fixed input, but
    * cross-engine no oracle exists → rows-only + spec floor.
    *
    * 100 TB shape: the daily aggregation is one map-side-combinable
    * shuffle on (day, type); the union re-aggregation shuffles only
    * days×types sketch rows (KBs each), never users. */
  /** ONE copy of the (day, type) HLL sketch build (lgK = 14) shared by
    * the in-session and persisted rollups — the two previously maintained
    * the identical pipeline independently, so an lgK change to one could
    * silently desynchronize the saved == in-session parity the spec pins. */
  private def eventsProjected(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("event_type"), col("user_id"))
  private def dailySketchesOf(ev: DataFrame): DataFrame =
    ev.groupBy("day", "event_type")
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
  private def dailySketches(spark: SparkSession, dir: String): DataFrame =
    dailySketchesOf(eventsProjected(spark, dir))

  /** ONE ε for the HLL rollup/daily envelope checks AND their spec pins
    * (the [[cmsEps]] rule: two literals would let a retune of one
    * silently verify the wrong bound): 5×rsd at lgK = 14 is ~4.1%, 5%
    * is the committed bound — shared by [[hllRollupBounded]],
    * [[hllRollupSavedBounded]], the streaming
    * [[graft.streaming.EventsStream.hllDailyUsersBounded]] and
    * `SketchSpec`'s floors. */
  private[graft] val HllEnvelope = 0.05d

  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    // ONE materialized projection feeds both the sketch build and the
    // exact audit branch (the kmvAssortmentOverlap discipline) — as two
    // plain frames each aggregate re-scanned the fact table
    val ev = eventsProjected(spark, dir).localCheckpoint(true)
    val daily = dailySketchesOf(ev)
    val merged = daily
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
    val exact = ev
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n_days"), col("exact_users"),
        col("est_users"))
  }

  /** [[hllRollup]] as a BOUNDED-ERROR ORACLE query (round 19, the r18
    * verdict's ask #3 — the exact-half + envelope scheme that closed
    * `q_stream_hll_daily` and `q_kmv_overlap_est`): the rollup already
    * carries its exact audit column, so the bounded shape only swaps
    * the raw estimate (whose datasketches value no DuckDB twin can
    * recompute) for a boolean asserting the merged-register estimate
    * sits within the same 5% envelope `SketchSpec` has always pinned
    * (5×rsd at lgK = 14 is ~4.1%; 5% is the committed bound). DuckDB
    * recomputes n_days and exact_users independently from events, so a
    * broken sketch build, union merge, or day bucketing now fails the
    * driver's t2 hash gate instead of only a spec floor. The audit is
    * test-scale scaffolding — at 100 TB the sketch table serves alone
    * ([[hllRollupSaved]]'s stored shape, which drops user ids). */
  def hllRollupBounded(spark: SparkSession, dir: String): DataFrame =
    hllRollup(spark, dir).select(col("event_type"), col("n_days"),
      col("exact_users"), envelopeBool.as("within_bound"))

  /** The shared 5%-envelope predicate over (est_users, exact_users). */
  private def envelopeBool: Column =
    abs(col("est_users").cast("double") - col("exact_users").cast("double")) <=
      col("exact_users").cast("double") * HllEnvelope

  /** [[hllRollupSaved]] under the same bounded-boolean contract: the
    * estimate is served from the STORED sketch bytes (write → re-read →
    * merge — the whole point of the persisted variant), then audited
    * against a fresh exact batch aggregate. The saved == in-session
    * estimate parity stays pinned by `SketchSpec`; this query makes the
    * persisted path's ESTIMATE QUALITY a hash-gated fact too. */
  def hllRollupSavedBounded(spark: SparkSession, dir: String): DataFrame = {
    // ONE materialized projection feeds the sketch build AND the exact
    // audit branch (hllRollup's own rule — as two plain frames each
    // aggregate re-scans the fact table, round-19 review)
    val ev = eventsProjected(spark, dir).localCheckpoint(true)
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
    savedMerge(spark, dailySketchesOf(ev)).join(exact, "event_type")
      .select(col("event_type"), col("n_days"), col("exact_users"),
        envelopeBool.as("within_bound"))
  }

  /** [[hllRollup]] THROUGH A PERSISTED SKETCH TABLE — the storable half
    * of the pattern (mirroring the `q_ann_ivf_saved` precedent): the
    * (day, type) sketch frame is written to parquet (binary sketch
    * column + keys), re-read, and merged from the STORED bytes. At
    * 100 TB this is the nightly job + the interactive half: build once,
    * answer every date-range distinct question from the sketch table.
    * Output equals [[hllRollup]] minus the exact audit column (the
    * stored table no longer carries user ids — the point), and the spec
    * pins saved == in-session estimates exactly. */
  def hllRollupSaved(spark: SparkSession, dir: String): DataFrame =
    savedMerge(spark, dailySketches(spark, dir))

  /** The persisted round-trip on its own — write the daily sketch frame,
    * re-read, merge from the STORED bytes. One copy shared by the plain
    * and bounded saved variants (round-19 review). */
  private def savedMerge(spark: SparkSession, daily: DataFrame): DataFrame = {
    val tmp = Scale.scratchDir("graft_hll_sketches")
    daily.write.mode("overwrite").parquet(s"$tmp/daily")
    val out = spark.read.parquet(s"$tmp/daily")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      .localCheckpoint(true)
    Scale.deleteScratch(tmp)
    out
  }

  /** COUNT-MIN-SKETCH heavy hitters over document tokens: one
    * map-side-combinable `count_min_sketch` aggregate compresses the
    * whole token stream into a ~1 MB sketch (eps 1e-4, confidence 0.99,
    * fixed seed ⇒ deterministic), then the exact top-20 tokens are
    * looked up in it, surfacing per-token (exact, estimate, overcount).
    * CMS guarantees est ≥ exact and est ≤ exact + eps·N w.p. 0.99 —
    * both spec-pinned. The exact top-20 frame is the test-scale audit
    * half; at 100 TB the sketch is built in one pass and probed for
    * candidate tokens (from a sample or a prior day's top-k) WITHOUT the
    * exact groupBy — the point of CMS is answering "how often does X
    * occur" for adversarially many X without keeping per-key state.
    *
    * The probe deserializes the sketch per row via a UDF over the
    * broadcast 1-row sketch frame — 20 bounded rows, never data-sized;
    * the only driver transfer is the sketch itself inside the broadcast
    * (the k-centers precedent: constant-size, not data-sized). */
  /** ONE copy of the token stream and its CMS build (eps 1e-4,
    * confidence 0.99, seed 42) shared by the audited and probe-only
    * variants — a drifted seed or regex in one copy would change
    * estimates with nothing failing (the probe-only variant has no
    * parity pin). */
  private def tokensOf(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
  private def tokenStream(spark: SparkSession, dir: String): DataFrame =
    tokensOf(Tables.load(spark, dir, "documents"))
  /** ONE ε for the CMS build AND its published-bound check (round-16
    * ADVICE): the bounded oracle's `within_bound` predicate asserts
    * est ≤ exact + [[cmsBoundSlack]]·ε·N against the SAME ε the sketch
    * was built with — two literals would let a retune of one silently
    * verify the wrong bound. */
  private val cmsEps = 0.0001d
  private val cmsBoundSlack = 2.0 // absorbs a fixture landing in the δ tail
  private def tokenCms(tokens: DataFrame): DataFrame =
    tokens.agg(
      count_min_sketch(col("token"), lit(cmsEps), lit(0.99d), lit(42)).as("sk_bytes"),
      count(lit(1)).as("n_tokens"))

  def cmsHeavyHitters(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    // one materialized token stream feeds both aggregation branches —
    // as a plain frame the corpus was tokenized twice (sketch + audit)
    val tokens = tokenStream(spark, dir).localCheckpoint(true)
    val sk = tokenCms(tokens)
    val top = tokens.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token").asc)
      .limit(k)
    top.crossJoin(broadcast(sk))
      .withColumn("est_cnt", cmsEstimate(col("sk_bytes"), col("token")))
      .select(col("token"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("overcount"),
        col("n_tokens"))
  }

  /** [[cmsHeavyHitters]] as a BOUNDED-ERROR ORACLE query (round 16): the
    * CMS estimate can't be replayed in DuckDB, but its published
    * contract can be hash-gated — CMS never undercounts, and overcounts
    * by more than ε·N only with probability δ. The output carries the
    * exact top-k counts (DuckDB recomputes them independently from the
    * same tokenization) and a boolean asserting
    * exact ≤ est ≤ exact + 2·ε·N — the same 2× slack `SketchSpec` pins,
    * absorbing a fixture regeneration landing in the δ tail
    * (deterministic on fixed data under the pinned seed). A broken
    * sketch or drifted tokenization now fails the driver's t2 hash
    * gate, not just a spec floor. */
  def cmsHeavyHittersBounded(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    cmsHeavyHitters(spark, dir, k).select(col("token"), col("exact_cnt"),
      col("n_tokens"),
      (col("est_cnt") >= col("exact_cnt") &&
        (col("est_cnt") - col("exact_cnt")).cast("double")
          <= lit(cmsBoundSlack * cmsEps) * col("n_tokens").cast("double"))
        .as("within_bound"))

  /** [[cmsHeavyHitters]] WITHOUT the exact audit half — the shape that
    * actually runs at 100 TB, where the exact token groupBy is dropped
    * and the sketch alone answers frequency questions. One linear pass
    * builds the ~1 MB sketch; candidates come from a BOUNDED
    * deterministic sample (the distinct tokens of the first 200
    * documents by id — the "prior day's top-k / sample" seeding the
    * docstring above describes), are probed against the broadcast
    * sketch, and the top-k estimates survive via orderBy+limit
    * (TakeOrderedAndProject). Nothing but the sketch build scales with
    * the corpus, which is exactly what the 10× spot-bench measures —
    * [[cmsHeavyHitters]]'s ratio is dominated by its test-scale exact
    * audit, a super-linear cost the production pattern doesn't pay. */
  def cmsHeavyHittersProbeOnly(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sk = tokenCms(tokenStream(spark, dir))
    // first 200 docs BY ID (TakeOrderedAndProject), not `doc_id < 200`:
    // a fixture whose ids start above 200 would make a value predicate
    // silently return an empty candidate set
    // the candidate tokenization is THE shared [[tokensOf]] definition —
    // an inline restatement could drift from what the sketch counted,
    // silently corrupting every estimate (no parity pin on this variant)
    val candidates = tokensOf(
      docs.select(col("doc_id"), col("text")).orderBy("doc_id").limit(200))
      .distinct()
    candidates.crossJoin(broadcast(sk))
      .withColumn("est_cnt", cmsEstimate(col("sk_bytes"), col("token")))
      .orderBy(col("est_cnt").desc, col("token").asc).limit(k)
      .select(col("token"), col("est_cnt"), col("n_tokens"))
  }

  /** CMS point probe. A UDF is justified here (the repo's only one
    * besides nothing): Spark has no built-in CMS probe expression, and
    * every caller runs it over ≤ a few hundred candidate rows against a
    * broadcast sketch — never data-sized input. */
  private val cmsEstimate = udf { (bytes: Array[Byte], token: String) =>
    org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
      .estimateCount(token)
  }

  /** KMV (theta) SET-OPERATION ESTIMATES — pairwise part-assortment
    * overlap between customer nations: for every nation pair, the
    * estimated distinct-part counts, union, INTERSECTION, differences
    * and Jaccard, answered from one constant-size
    * [[graft.functions.KmvSketch]] per nation instead of the exact
    * pair self-join ([[Breadth.audienceOverlap]]'s shape) that shuffles
    * the deduplicated value stream twice and joins it against itself.
    * This is the sketch layer's set-algebra member: HLL union can't
    * intersect (inclusion-exclusion error explodes as |A∩B| shrinks);
    * the k-minimum-values sample supports all of it in one pass.
    *
    * Estimators (Beyer et al. 2007; arrays ascending, u(v) = v/2⁶⁴+0.5):
    * per-set (k-1)/u(k-th min), exact when the sketch is unsaturated;
    * union from the k smallest of the merged sketches; intersection
    * ρ/k · |A∪B|est where ρ counts common values inside the union
    * sample's threshold θ. When the union sample holds fewer than k
    * values both sketches are EXHAUSTIVE and every output is exact —
    * the small-set degeneracy handled explicitly below.
    *
    * 100 TB shape: lineitem→orders→customer is the one fact-grain
    * shuffle (nation broadcast); the KMV aggregation then moves only
    * ≤4k-long buffers per (nation × map partition) — NO distinct() and
    * no value-grain shuffle — and the 25-row sketch frame broadcasts
    * into a 300-row pair join. The exact audit columns (n_a, n_b,
    * n_both via the distinct self-join) are the test-scale check the
    * 100 TB pattern DROPS — there the sketch frame is the product,
    * persisted like [[hllRollupSaved]]'s table.
    *
    * Rows-only + spec floors ([[graft.SketchSpec]]): xxhash64 is
    * Spark-side (no DuckDB twin), but the output is fully deterministic
    * (fixed seed, order-independent sketch). */
  /** One KMV sketch of `xxhash64(valCol)` per `keyCol` group — ascending
    * `sk: array<bigint>` of the ≤k smallest distinct hashes. Plans as
    * partial ObjectHashAggregate → Exchange → final: only ≤4k-long
    * buffers cross the shuffle, never the (possibly duplicated) value
    * stream — pinned by `PlanShapeSpec`. */
  private[graft] def kmvSketches(df: DataFrame, keyCol: String,
      valCol: String, k: Int): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketch.KmvMinValues(k))
    df.select(col(keyCol), xxhash64(col(valCol)).as("_h"))
      .groupBy(keyCol).agg(kmv(col("_h")).as("_s"))
      .select(col(keyCol), col("_s.mins").as("sk"))
  }

  /** The three kmv intermediates — the labeled fact pass, the exact
    * audit algebra, and the k-sketch pair estimates — built ONCE per
    * (session, dir[, k]) and shared by the family's three declared
    * queries (q_kmv_overlap, q_kmv_overlap_est, q_kmv_audit): the
    * [[graft.operators.Graph.tradeEdges]] pattern — a dashboard runs
    * several overlap profiles of the same assortment table in one
    * session, and each previously re-ran the 3-join fact pass, the
    * distinct self-join and the sketch build per query (round-21
    * profile: ~150 MB of re-read per query, 3× the same joins).
    * Checkpoint blocks are owned by the memoized frames; session
    * scoping per [[graft.SessionMemo]]. */
  private val nationPartsMemo = new graft.SessionMemo[DataFrame]()
  private def nationPartsShared(spark: SparkSession, dir: String): DataFrame =
    nationPartsMemo.getOrCompute(spark, dir) {
      nationParts(spark, dir).localCheckpoint(true)
    }
  private val auditPairsMemo = new graft.SessionMemo[DataFrame]()
  private def auditPairsShared(spark: SparkSession, dir: String): DataFrame =
    auditPairsMemo.getOrCompute(spark, dir) {
      auditPairs(nationPartsShared(spark, dir)).localCheckpoint(true)
    }
  private val kmvEstMemo = new graft.SessionMemo[DataFrame]()
  private def kmvPairEstimatesShared(
      spark: SparkSession, dir: String, k: Int): DataFrame =
    kmvEstMemo.getOrCompute(spark, s"$dir|$k") {
      kmvPairEstimates(nationPartsShared(spark, dir), k).localCheckpoint(true)
    }

  def kmvAssortmentOverlap(spark: SparkSession, dir: String, k: Int = 1024): DataFrame = {
    kmvPairEstimatesShared(spark, dir, k)
      .join(broadcast(auditPairsShared(spark, dir)), Seq("nation_a", "nation_b"))
      .select(col("nation_a"), col("nation_b"), col("n_a"), col("n_b"),
        col("n_both"), col("est_a"), col("est_b"), col("est_union"),
        col("est_inter"), col("est_only_a"), col("est_only_b"),
        col("est_jaccard"))
  }

  /** [[kmvAssortmentOverlap]] as a BOUNDED-ERROR ORACLE query (round
    * 16): the xxhash64-based KMV estimates have no DuckDB twin, but the
    * published error contract does — the output carries the exact
    * audit trio (DuckDB recomputes it via the same distinct self-join
    * as q_kmv_audit) plus a boolean asserting every estimate sits
    * inside the floors `SketchSpec` pins (set 8%, union 10%,
    * intersection 20% rel — KMV theory ~1/√k ≈ 3.1% per set at k=1024,
    * with ~2.5× regeneration slack; the intersection check falls back
    * to a 2%-of-union ABSOLUTE bound so a near-empty exact overlap
    * can't divide the relative form by ~0). Unsaturated sketches are
    * exhaustive, so their estimates are exact and trivially inside.
    * A broken sketch/estimator now fails the driver's t2 hash gate. */
  def kmvOverlapBounded(spark: SparkSession, dir: String, k: Int = 1024): DataFrame = {
    def relOk(est: Column, exact: Column, floor: Double): Column =
      abs(est - exact.cast("double")) <= exact.cast("double") * floor
    val exactUnion = (col("n_a") + col("n_b") - col("n_both")).cast("double")
    kmvAssortmentOverlap(spark, dir, k)
      .select(col("nation_a"), col("nation_b"),
        col("n_a"), col("n_b"), col("n_both"),
        (relOk(col("est_a"), col("n_a"), 0.08) &&
          relOk(col("est_b"), col("n_b"), 0.08) &&
          abs(col("est_union") - exactUnion) <= exactUnion * 0.10 &&
          (relOk(col("est_inter"), col("n_both"), 0.20) ||
            abs(col("est_inter") - col("n_both").cast("double"))
              <= exactUnion * 0.02)).as("within_bound"))
  }

  /** The exact audit algebra, shared by [[kmvAssortmentOverlap]]'s
    * ride-along columns and the standalone oracled [[kmvAudit]] — ONE
    * definition, so the DuckDB hash gate on the latter also guards the
    * former. Distinct (nation, part) assortments, per-nation sizes,
    * overlap via the distinct self-join, and EVERY (nation_a < nation_b)
    * pair enumerated from the dim-sized sizes rollup — the self-join
    * only emits pairs sharing at least one part, so zero-overlap pairs
    * enter through the left join's 0 default. */
  private def auditPairs(labeled: DataFrame): DataFrame = {
    val np = labeled.distinct().localCheckpoint(true)
    val sizes = np.groupBy("nation").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // 25 rows, feeds both sides of the pair join
    // round-22 measured REJECTION: rewriting this via the triangleCount
    // edge-gen shape (collect_set(nation) per part + map-side sorted-set
    // pair expansion + 300-key count) was tried and benched in a
    // controlled same-subset pair — q_kmv_audit 4.19 → 4.87 s (+0.68).
    // Unlike triangle's order-key self-join, this one is already
    // co-partitioned and bounded by the 25-nation dimension, so the
    // saved second np shuffle is smaller than the per-row cost of the
    // array expansion (struct alloc + sort per part). The self-join
    // stands.
    val both = np.select(col("nation").as("nation_a"), col("l_partkey"))
      .join(np.select(col("nation").as("nation_b"), col("l_partkey")), "l_partkey")
      .filter(col("nation_a") < col("nation_b"))
      .groupBy("nation_a", "nation_b").agg(count(lit(1)).as("n_both"))
    sizes.select(col("nation").as("nation_a"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("nation").as("nation_b"), col("n").as("n_b"))),
        col("nation_a") < col("nation_b"))
      .join(broadcast(both), Seq("nation_a", "nation_b"), "left")
      .select(col("nation_a"), col("nation_b"), col("n_a"), col("n_b"),
        coalesce(col("n_both"), lit(0L)).as("n_both"))
  }

  /** [[kmvAssortmentOverlap]] WITHOUT the exact audit half — the shape
    * that actually runs at 100 TB (the [[cmsHeavyHittersProbeOnly]]
    * precedent): one linear fact pass builds the 25 sketches, the
    * 300-row pair algebra answers every overlap question, and nothing
    * re-scans rows or self-joins the distinct value stream. */
  def kmvOverlapEstimates(spark: SparkSession, dir: String, k: Int = 1024): DataFrame =
    kmvPairEstimatesShared(spark, dir, k)

  /** The DERIVED estimate family as a BOUNDED-ERROR ORACLE query
    * (round 18, closing the last KMV rows-only row): [[kmvOverlapBounded]]
    * already hash-gates the set/union/intersection estimates, but the
    * DIFFERENCE and JACCARD estimates ([[kmvPairEstimates]]'s
    * `est_only_a`/`est_only_b`/`est_jaccard`) rode beside it unchecked.
    * This query carries the exact audit trio (DuckDB recomputes it via
    * the shared [[auditPairs]] algebra) plus one boolean per derived
    * estimate, with bounds COMPOUNDED from the committed component
    * envelopes rather than re-measured ad hoc — if the component bounds
    * hold (they are independently oracled in q_kmv_overlap), these hold
    * by arithmetic:
    *   - eA = 0.08·n_a, eB = 0.08·n_b, eU = 0.10·U,
    *     eI = max(0.20·n_both, 0.02·U)  (the q_kmv_overlap envelopes);
    *   - |est_only_a − (n_a − n_both)| ≤ eA + eI — a difference of two
    *     bounded terms, and the max(·, 0) clip only moves the estimate
    *     toward a truth that is ≥ 0;
    *   - |est_jaccard − J| ≤ (eI + J·eU)/(U − eU) — worst-case quotient
    *     deviation with the numerator off by eI and the denominator off
    *     by eU (U > 0 always: every nation ships ≥ 1 part).
    * Unsaturated sketches make every estimate exact and the booleans
    * trivially true; a broken difference/quotient estimator now fails
    * the driver's t2 hash gate instead of nothing. The audit join is
    * test-scale scaffolding (the [[hllDailyUsersBounded]] precedent);
    * at 100 TB [[kmvOverlapEstimates]] serves alone. */
  def kmvOverlapEstBounded(spark: SparkSession, dir: String, k: Int = 1024): DataFrame = {
    val u = (col("n_a") + col("n_b") - col("n_both")).cast("double")
    val eA = col("n_a").cast("double") * 0.08
    val eB = col("n_b").cast("double") * 0.08
    val eU = u * 0.10
    val eI = greatest(col("n_both").cast("double") * 0.20, u * 0.02)
    val j = col("n_both").cast("double") / u
    kmvPairEstimatesShared(spark, dir, k)
      .join(broadcast(auditPairsShared(spark, dir)), Seq("nation_a", "nation_b"))
      .select(col("nation_a"), col("nation_b"),
        col("n_a"), col("n_b"), col("n_both"),
        (abs(col("est_only_a") - (col("n_a") - col("n_both")).cast("double"))
          <= eA + eI).as("wb_only_a"),
        (abs(col("est_only_b") - (col("n_b") - col("n_both")).cast("double"))
          <= eB + eI).as("wb_only_b"),
        (abs(col("est_jaccard") - j) <= (eI + j * eU) / (u - eU)).as("wb_jaccard"))
  }

  /** The EXACT audit half of [[kmvAssortmentOverlap]] on its own —
    * [[auditPairs]] over the fact-derived assortments, nothing else.
    * Plain relational algebra end-to-end, so the DuckDB oracle
    * hash-gates the shared pair logic the sketch columns ride beside. */
  def kmvAudit(spark: SparkSession, dir: String): DataFrame =
    auditPairsShared(spark, dir)

  private def nationParts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("l_partkey"))

  private def kmvPairEstimates(labeled: DataFrame, k: Int): DataFrame = {
    val sk = kmvSketches(labeled, "nation", "l_partkey", k)
      .localCheckpoint(true) // 25 rows, feeds both sides of the pair join

    val kD = lit(k.toDouble)
    def u(c: Column): Column =
      c.cast("double") / lit(1.8446744073709552e19) + lit(0.5)
    def estSet(skc: Column): Column =
      when(size(skc) < k, size(skc).cast("double"))
        .otherwise((kD - 1) / u(element_at(skc, k)))

    sk.select(col("nation").as("nation_a"), col("sk").as("sk_a"))
      .join(broadcast(sk.select(col("nation").as("nation_b"), col("sk").as("sk_b"))),
        col("nation_a") < col("nation_b"))
      .withColumn("sk_u",
        slice(array_sort(array_distinct(concat(col("sk_a"), col("sk_b")))), 1, k))
      .withColumn("m_u", size(col("sk_u")))
      .withColumn("theta", element_at(col("sk_u"), col("m_u")))
      .withColumn("inter_all", array_intersect(col("sk_a"), col("sk_b")))
      .withColumn("rho",
        size(filter(col("inter_all"), v => v <= col("theta"))))
      .withColumn("est_a", estSet(col("sk_a")))
      .withColumn("est_b", estSet(col("sk_b")))
      .withColumn("est_union",
        when(col("m_u") < k, col("m_u").cast("double"))
          .otherwise((kD - 1) / u(col("theta"))))
      .withColumn("est_inter",
        when(col("m_u") < k, size(col("inter_all")).cast("double"))
          .otherwise(col("rho").cast("double") / kD * col("est_union")))
      .withColumn("est_only_a", greatest(col("est_a") - col("est_inter"), lit(0.0)))
      .withColumn("est_only_b", greatest(col("est_b") - col("est_inter"), lit(0.0)))
      .withColumn("est_jaccard", col("est_inter") / col("est_union"))
      .select(col("nation_a"), col("nation_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_inter"), col("est_only_a"),
        col("est_only_b"), col("est_jaccard"))
  }
}
