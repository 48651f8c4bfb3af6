package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames — the loop lives on the
  * driver, every iteration is one distributed join + keyed aggregation
  * (the standard Pregel-on-relational shape; see also
  * [[Dedup.minLabelComponents]]' propagation rounds).
  */
object Graph {

  /** Deduplicated customer↔supplier trade edge list — (2·custkey,
    * 2·suppkey+1), the shared node encoding — built ONCE per (session,
    * dir): kCore, assortativity and degreeDistribution all profile this
    * same graph, and each previously re-ran the orders⋈lineitem fact
    * join plus the corpus-wide distinct per call (the dashboard pattern
    * runs several graph profiles in one session). Checkpoint blocks are
    * owned by the memoized frame; session-scoping per
    * [[graft.SessionMemo]]. */
  private val tradeEdgesMemo = new graft.SessionMemo[DataFrame]()
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    tradeEdgesMemo.getOrCompute(spark, dir) {
      val orders = Tables.load(spark, dir, "orders").select("o_orderkey", "o_custkey")
      val li = Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_suppkey")
      orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(true)
    }

  /** FIXED-POINT PAGERANK over the bipartite part↔supplier graph from
    * lineitem (edge = "supplier ships part", deduplicated).
    *
    * Ranks are carried as BIGINT fixed-point (1.0 == 1e9), every step is
    * integer arithmetic (`div`, integer sums): bit-exact across engines
    * and accumulation orders, so the oracle hash-matches without any
    * floating-point discipline — double PageRank would diverge in the
    * last ulp because contribution sums are order-dependent and three
    * iterations amplify them.
    *
    * Scale shape: per iteration one shuffle keyed on the destination
    * node (the contribution aggregation) plus one broadcast-able join
    * against the rank/degree frame; node ids are longs (parts at 2k,
    * suppliers at 2k+1), payloads are two longs — nothing wide moves.
    * Iterations are a fixed constant (3), not a convergence loop, so the
    * lineage stays bounded and the whole computation is replayable. */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val scale = 1000000000L // 1.0 in fixed-point
    // distinct materialized BEFORE the two-branch union (the
    // triangleCount discipline): as a plain frame the edge subplan is
    // planned once per union branch inside the checkpoint-build job —
    // the final distinct aggregate runs twice over the exchange
    val edges = Tables.load(spark, dir, "lineitem")
      .select((col("l_partkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
      .localCheckpoint(true)
    // undirected: both directions carry contributions.
    // Materialized ONCE (localCheckpoint) before the loop: `und`/`deg`
    // appear in every iteration's lineage, so as plain frames the final
    // plan would re-scan and re-distinct lineitem ~2 per iteration — 6
    // redundant full-fact shuffles at 3 iterations, a scale-killer at
    // 100 TB. Checkpoint blocks are owned by the frames' RDDs and
    // reclaimed by the ContextCleaner when the result is dropped.
    // round-21 measured note: an "attach the degree to the edge list
    // once, one join per iteration" rewrite was tried and REVERTED — it
    // halved summed executor time but cost +1.3 s wall at sf0.1, because
    // the per-iteration deg join below broadcasts (node-cardinality
    // frame) while the rewrite widened the per-iteration edge⋈ranks
    // shuffle by the carried degree column and put an extra upfront
    // shuffle join on the critical path. The two-join loop stands.
    // (round 21 also tried hash-partitioning `und` on src before the
    // checkpoint so iterations shuffle only ranks — shuffle read dropped
    // 24.5→17.9 MB but wall did NOT improve at sf0.1, same verdict as
    // the one-join rewrite above: measured, rejected.)
    val und = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val deg = und.groupBy("src").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    var ranks = deg.select(col("src").as("node"), lit(scale).as("r"))
    for (_ <- 1 to iters) {
      val contribs = und
        .join(ranks, und("src") === ranks("node"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), expr("r div d").as("c"))
        .groupBy("node")
        .agg(sum("c").as("csum"))
      ranks = contribs.select(col("node"),
        (lit(scale * 15 / 100) + expr("85L * csum div 100")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_fp"),
      (col("node") % 2 === 0).cast("int").as("is_part"))
  }

  /** EXACT TRIANGLE COUNT over the part co-purchase graph (edge = two
    * parts appearing in the same order), with DEGREE-ORDERED ORIENTATION
    * — the standard trick that makes distributed triangle counting
    * survive power-law degree distributions: orient every edge from the
    * lower-(degree, id) endpoint to the higher, so each triangle is
    * counted exactly once — at its orientation-lowest edge, as a common
    * out-neighbor of that edge's endpoints. Out-degree under this
    * orientation is O(√m), so adjacency arrays stay small even for
    * celebrity nodes (a hub's triangles are charged to its LOW-degree
    * neighbors, never to the hub itself), which is what keeps one
    * reducer from melting at 100 TB.
    *
    * Edge generation is a self-join co-partitioned on the order key and
    * bounded by order width (~4 items), not graph size. Everything
    * downstream is keyed shuffles on node/edge ids (longs); the output
    * is one row of graph invariants, all integer arithmetic — n_wedges
    * is Σ d·(d−1)/2 over UNDIRECTED degrees (orientation-independent),
    * so the DuckDB oracle replays bit-exactly. Because edges are stored
    * canonically a<b, "(da,a) < (db,b)" reduces to da <= db. */
  /** Storage level for the EDGE-SCALE checkpoints below, derived from the
    * input footprint vs the heap (round 22, guide §5). Both ends are
    * measured, not guessed:
    *   - deserialized MEMORY_AND_DISK at the 30× slope corpus OOMs an 8 g
    *     serving heap (32 concurrent unrolls of the oriented-edge blocks;
    *     MemoryStore.putIteratorAsValues — reproduced this round, first
    *     seen r20);
    *   - serialized MEMORY_AND_DISK_SER always fits (the 30× slope
    *     completes at 8 g with it) but RDD-level serialized caching
    *     Java-serializes UnsafeRows, which at sf0.1 tripled the query's
    *     summed executor time (12.6 → 35.8 s) for frames that fit in
    *     memory trivially.
    * So the level is chosen from data: unrolled storage only when the
    * projected deserialized footprint fits a quarter of the heap, else
    * serialized. Projection = parquet bytes × 8 (dictionary/RLE-packed
    * narrow columns expand ~8× as live rows) × 3 (edges, oriented and
    * adj are checkpoint-resident CONCURRENTLY while the next builds —
    * the OOM was concurrent unrolls, not one frame). sf0.1 (11 MB input,
    * 8 g heap → 260 MB projected) stays deserialized — the bench plan is
    * unchanged; the 30× corpus (231 MB input → 5.5 GB projected) flips
    * to serialized and completes at the serving heap (both measured this
    * round). Correctness is level-independent (storage level affects
    * only block encoding). The heap is the EXECUTOR's
    * ([[executorHeapBytes]]), and the input is whatever table the caller
    * builds its edges from. */
  private def edgeCheckpointLevel(
      spark: SparkSession, inputPath: String): org.apache.spark.storage.StorageLevel = {
    val p = new org.apache.hadoop.fs.Path(inputPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    edgeCheckpointLevel(fs.getContentSummary(p).getLength, executorHeapBytes(spark))
  }

  /** The sizing rule itself: serialized when the projected footprint
    * (input × 8 × 3, see above) exceeds a quarter of the heap. */
  private[graft] def edgeCheckpointLevel(
      inputBytes: Long, heapBytes: Long): org.apache.spark.storage.StorageLevel =
    if (inputBytes * 8L * 3L > heapBytes / 4L)
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Heap of one executor: `spark.executor.memory` (Spark's 1g default
    * when unset) on a cluster; in local mode the executors ARE the driver
    * JVM, whose max heap is the bound. */
  private def executorHeapBytes(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    if (sc.isLocal) Runtime.getRuntime.maxMemory
    else sc.getConf.getSizeAsBytes("spark.executor.memory", "1g")
  }

  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val ckptLevel = edgeCheckpointLevel(spark, s"$dir/lineitem.parquet")
    // Edge generation via the [[Affinity.basketPairs]] shape (round 21 —
    // the profile showed the old (ok,p)-distinct SELF-JOIN was the
    // query's hottest stage group): one keyed collect_set per order
    // (bounded by order width, ~4-7 items), pairs expanded MAP-SIDE from
    // the sorted set, then one distinct. Identical edge set — sorted-set
    // index pairs (i < j) enumerate exactly the {a < b, same order}
    // pairs the self-join emitted — with one fact shuffle instead of
    // two plus a join (the per-order set also absorbs the old li
    // .distinct, so two distinct aggregations become one).
    val edges = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .groupBy("ok").agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b")).distinct()
      // edge-scale checkpoint: level derived by [[edgeCheckpointLevel]]
      .localCheckpoint(true, ckptLevel)
    // deg feeds two orientation joins + the shape rollup, oriented feeds
    // both sides of the wedge self-join: materialized once each, or the
    // plan re-shuffles the full edge set per consumer (3x / 2x) — the
    // same loop-lineage discipline as pageRank's und/deg. Degrees come
    // from ONE explode pass over the edge blocks, not a two-branch union
    // that reads the checkpointed edges twice (round-21 profile: the
    // union shape re-read ~200 MB of edge blocks here).
    val deg = edges.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val oriented = edges
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("src"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("dst"))
      // this is the checkpoint whose deserialized unroll died at 8 g on
      // the 30× corpus — level derived by [[edgeCheckpointLevel]]
      .localCheckpoint(true, ckptLevel)
    // Edge-iterator with adjacency arrays, NOT wedge materialization:
    // each triangle {x,y,z} (orientation order) is seen exactly once at
    // its lowest edge (x,y) as z ∈ N+(x) ∩ N+(y). The dense sf0.1 graph
    // generates ~37M wedges — materializing and shuffling them cost 11 s;
    // intersecting per-edge adjacency arrays does the same comparisons
    // inside codegen over the 870k edge rows and shuffles nothing wider
    // than the O(√m)-bounded arrays. (3.4x measured at sf0.1.)
    // adjacency arrays SORTED once at build: the per-edge intersection —
    // the hottest inner loop of the whole graph family (it runs once per
    // oriented edge) — is then one codegen'd two-pointer merge
    // ([[graft.functions.HashExpressions.SortedIntersectCount]]) instead
    // of array_intersect's per-row hash-set build. Oriented edges are
    // distinct by construction, so the lists are sorted-distinct sets
    // and the merge count equals size(array_intersect(...)) exactly
    // (GraphSpec pins the identity).
    val adj = oriented.groupBy("src").agg(sort_array(collect_list("dst")).as("nbrs"))
      // adjacency arrays are the biggest rows in the family (~2.2 GB/shard
      // deserialized at the 30× corpus) — level derived like the others
      .localCheckpoint(true, ckptLevel)
    val tri = oriented
      .join(adj.select(col("src"), col("nbrs").as("nu")), "src")
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"), "left")
      .agg(sum(when(col("nv").isNull, lit(0L)).otherwise(
        graft.functions.HashExpressions.sorted_intersect_count(
          col("nu"), col("nv")))).as("n_triangles"))
    // n_edges = Σd/2 exactly (every edge contributes one to each
    // endpoint's degree), so the shape rollup reads ONLY the node-sized
    // deg frame — the old separate edges.count re-read the full edge
    // blocks for a number the degree sum already carries.
    val shape = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(d) div 2").as("n_edges"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    shape.crossJoin(tri)
      // SUM over zero rows is NULL: an empty edge set must report zero
      // edges/wedges/triangles, not NULLs that poison downstream
      // arithmetic (the d3afe3e degenerate-input class; n_edges is now a
      // degree SUM, so it needs the same guard the counts never did)
      .select(col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** K-CORE PEELING over the customer↔supplier bipartite graph (edge =
    * "customer ordered from supplier", deduplicated) — the standard
    * engagement/fraud primitive: iteratively drop nodes with fewer than
    * `k` surviving neighbors; what remains is the k-core, where every
    * member keeps ≥ k edges AMONG THEMSELVES.
    *
    * Rounds are a FIXED constant, not a convergence loop — the same
    * bounded-lineage discipline as [[pageRank]]: once the peel reaches a
    * fixpoint further rounds are no-ops (the degree/filter pass removes
    * nothing), so a converged result is invariant to extra rounds and the
    * DuckDB oracle replays the identical unrolled rounds bit-exactly.
    * `GraphSpec` pins the multi-round CASCADE semantics (a chain graph
    * whose 2-core peels from the ends inward) against a driver-side
    * reference peel, and pins that the default rounds reach the fixpoint
    * on the test graph.
    *
    * Scale shape: each round is one keyed degree aggregation plus two
    * semi-joins of the edge set against the survivor node list — shuffles
    * keyed on long node ids carrying longs, nothing wide. The edge frame
    * is re-materialized (localCheckpoint) every round so the final plan
    * holds NO accumulated lineage — without it round r would replay all
    * r−1 prior rounds from the parquet scan.
    *
    * Output: every node still owning an edge after `rounds` peels, with
    * its within-core degree. */
  def kCore(spark: SparkSession, dir: String, k: Int = 30, rounds: Int = 4): DataFrame = {
    val edges = tradeEdges(spark, dir)
    kCorePeel(edges, k, rounds)
      .select(expr("n div 2").as("id"),
        (col("n") % 2 === 0).cast("int").as("is_customer"), col("core_deg"))
  }

  /** The peel itself, over any canonical `(a, b)` undirected edge frame:
    * `rounds` iterations of degree-count + survivor semi-joins, edge set
    * re-materialized per round. Returns (n, core_deg) for every node
    * still owning an edge. Exposed separately so specs can drive it with
    * synthetic graphs whose cascades outlast one round. */
  def kCorePeel(edges0: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = edges0
    for (_ <- 1 to rounds) {
      // one explode pass, not a two-branch union that scans the round's
      // edge blocks twice (the triangleCount deg note)
      val deg = edges.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("n")
      edges = edges
        .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        .localCheckpoint(true)
    }
    edges.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("core_deg"))
  }

  /** NEWMAN MODULARITY of a community partition — here the NATION
    * partition of the customer–supplier trade graph: how much more
    * within-country trade the graph carries than a degree-preserving
    * random rewiring would (the community-quality score every
    * graph-clustering pipeline reports). Per community c:
    * Q_c = m_c/m − (d_c/2m)², with m total edges, m_c within-community
    * edges, d_c the community degree sum.
    *
    * Scale shape: nodes carry their community as an attribute joined
    * from the (broadcast) customer/supplier dims onto the distinct edge
    * list, so the whole measure is three counts over one materialized
    * edge frame — no iteration, no driver scalars; the 1-row edge total
    * broadcasts back into the per-community arithmetic. All counts are
    * integers; Q_c is one fixed-shape double expression rounded 6 dp. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nat_a"))
    val supp = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").as("nat_b"))
    // the distinct customer↔supplier edge set IS the shared [[tradeEdges]]
    // graph, decoded from its 2k / 2k+1 node encoding (a bijection, so
    // the distinct sets are identical) — re-running the orders⋈lineitem
    // fact join + distinct here paid the memo's whole cost a fourth time
    // (kCore, assortativity and degreeDistribution already share it)
    val edges = tradeEdges(spark, dir)
      .select(expr("a div 2").as("ck"), expr("(b - 1) div 2").as("sk"))
      .join(broadcast(cust), col("ck") === col("c_custkey"))
      .join(broadcast(supp), col("sk") === col("s_suppkey"))
      .select("nat_a", "nat_b")
      .localCheckpoint(true) // feeds the total, both degree rollups, and m_c
    val mTot = edges.agg(count(lit(1)).as("m"))
    val dC = edges.select(explode(array(col("nat_a"), col("nat_b"))).as("nation"))
      .groupBy("nation").agg(count(lit(1)).as("d_c"))
    val mC = edges.filter(col("nat_a") === col("nat_b"))
      .groupBy(col("nat_a").as("nation")).agg(count(lit(1)).as("m_c"))
    val nations = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("nation"), col("n_name"))
    dC.join(mC, Seq("nation"), "left").na.fill(0L, Seq("m_c"))
      .crossJoin(broadcast(mTot))
      .join(broadcast(nations), "nation")
      .select(col("n_name"), col("d_c"), col("m_c"),
        round(col("m_c").cast("double") / col("m") -
          (col("d_c").cast("double") / (col("m") * 2)) *
            (col("d_c").cast("double") / (col("m") * 2)), 6).as("q_c"))
  }

  /** DEGREE ASSORTATIVITY of the trade graph — the Pearson correlation
    * of endpoint degrees over the (symmetrized) edge list: do
    * high-degree customers trade with high-degree suppliers (r > 0) or
    * with the long tail (r < 0)? The one-number mixing diagnostic
    * reported alongside modularity in any graph profile.
    *
    * Exactness: degrees are integers; the linear sums are exact BIGINT
    * aggregates and the PRODUCT sums run in DECIMAL — a hub of degree d
    * contributes d³ to Σdx² (it appears d times in the symmetrized pair
    * list with dx = d), so a raw BIGINT sum wraps past d ≈ 2.1e6 while
    * the oracle's HUGEINT does not (the trendSlope divergence class).
    * r is ONE double
    * expression on those sums — the same correlation-on-exact-sums
    * shape as `Breadth.revenueAutocorr`, rounded 6 dp. Scale: two
    * keyed joins to attach endpoint degrees (the degree frame is
    * node-cardinality), one global agg with map-side partials. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val und = edges.select(col("a").as("x"), col("b").as("y"))
      .unionAll(edges.select(col("b").as("x"), col("a").as("y")))
    val deg = und.groupBy(col("x").as("n")).agg(count(lit(1)).as("d"))
    val pairs = und
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
    val s = pairs.agg(count(lit(1)).as("n"),
      sum("dx").as("sx"), sum("dy").as("sy"),
      sum(expr("CAST(dx AS DECIMAL(18,0)) * CAST(dy AS DECIMAL(18,0))")).as("sxy"),
      sum(expr("CAST(dx AS DECIMAL(18,0)) * CAST(dx AS DECIMAL(18,0))")).as("sxx"),
      sum(expr("CAST(dy AS DECIMAL(18,0)) * CAST(dy AS DECIMAL(18,0))")).as("syy"))
    s.select(col("n"),
      round((col("n") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
        sqrt((col("n") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
          (col("n") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))), 6)
        .as("assortativity"))
  }

  /** LOG-BINNED DEGREE DISTRIBUTION of the trade graph — node counts per
    * ⌊log₂(degree)⌋ bucket, the standard heavy-tail profile plot
    * (linear binning drowns the tail that decides salting and skew-join
    * strategy; the log₂ histogram is what you read a power law off).
    * Two keyed aggregates (degree count, then bucket count) — both with
    * map-side partials — and a broadcast 1-row total for the share.
    * Bucket ids are exact integer log₂ via bit length, not float log. */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val deg = edges.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // floor(log2(d)) as binary-digit count minus one: exact integer
    // arithmetic in both engines — float log2 rounds differently at
    // exact powers of two (JVM log-quotient vs native log2).
    val buckets = deg
      .withColumn("bucket", (length(bin(col("d"))) - 1).cast("long"))
      .groupBy("bucket").agg(count(lit(1)).as("n_nodes"))
      .localCheckpoint(true) // ≤64 rows; feeds the final select AND the total
    val tot = buckets.agg(sum("n_nodes").as("n_total"))
    buckets.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_nodes"),
        round(col("n_nodes").cast("double") / col("n_total"), 6).as("share"))
  }
}
