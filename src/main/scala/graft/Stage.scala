package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stages a scale point: replicates every table of a testdata dir
  * `copies`× into `out`. A scale measurement is this main followed by
  * [[Bench]] on the staged dir:
  * {{{
  *   runMain graft.Stage /root/testdata/sf0.1 /tmp/graft_sf1 10
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_ONLY=q_a,q_b runMain graft.Bench
  * }}}
  *
  * Derivation (NOT new synthetic data — a replication of the
  * driver-generated tables with shifted key spaces, so per-copy
  * statistics are exactly the originals'):
  *   - `documents`: ids offset, every token prefixed with its copy tag —
  *     copies are textually DISJOINT (cross-copy Jaccard = 0), so the
  *     near-dup pair graph is exactly `copies`× the original and the
  *     dedup queries measure `copies`× the WORK, not a
  *     quadratically-denser output;
  *   - `embeddings`: ids offset + per-copy sign-flip rotation (intra-copy
  *     geometry exact, cross-copy cosines near zero — the probe set stays
  *     the original, the scanned corpus is `copies`× and non-degenerate);
  *   - `events` / `lineitem` / `orders` / `part` / `customer` /
  *     `supplier`: keys offset per copy — disjoint user populations and
  *     join graphs;
  *   - `nation` / `region`: dims, copied verbatim.
  * Copy 0 keeps every key and vector unchanged, so the source corpus is
  * a literal subset of the staged one.
  */
object Stage {
  // THE tenant stride (Scale.TenantStride), not an independent literal:
  // the interval joins derive per-tenant value domains from `key div
  // stride`, and that only measures ~copies× pair volume because the
  // staging offsets keys by copy × the SAME stride
  private val Stride = graft.operators.Scale.TenantStride

  def main(args: Array[String]): Unit = {
    require(args.length == 3 && args(2).matches("\\d{1,9}"),
      "usage: runMain graft.Stage <src> <out> <copies> (copies: a positive int)")
    val Array(src, out, copiesArg) = args
    val copies = copiesArg.toInt
    require(copies > 0, s"Stage: copies=$copies must be positive")
    val spark = GraftSession.local()
    try {
      stage(spark, src, out, copies)
      println(s"staged $out copies=$copies src=$src")
    } finally spark.stop()
  }

  /** Validate `out` against the requested params, then stage every
    * table that is not staged yet. */
  def stage(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    validateStagedParams(out, s"copies=$copies;src=$src")
    generate(spark, src, out, copies)
  }

  /** The staged corpus is only valid for the params that generated it:
    * a rerun with different copies/src would silently bench stale
    * tables. Fail loudly on mismatch (auto-deleting a multi-GB staged
    * dir is not this tool's call); the sentinel is written ONLY for a
    * fresh/empty dir — a dir that already holds staged tables but no
    * `_PARAMS` (a pre-sentinel-era leftover) is exactly the stale-corpus
    * case the guard exists to catch, and stamping it with the CURRENT
    * params would validate nothing. */
  private[graft] def validateStagedParams(out: String, params: String): Unit = {
    val paramsFile = java.nio.file.Paths.get(out, "_PARAMS")
    if (java.nio.file.Files.exists(paramsFile)) {
      val staged = java.nio.file.Files.readString(paramsFile).trim
      // legacy acceptance: a sentinel written before the tables list was
      // dropped still carries `;tables=...` after the SAME copies/src —
      // that dir IS valid for this run (table membership is governed
      // per-table by generate()'s _SUCCESS backfill), so rewrite the
      // sentinel to the new format instead of hard-failing into a
      // multi-GB restage. Prefix-match on `params + ";tables="` only: a
      // differing copies/src still fails loudly below.
      if (staged != params && staged.startsWith(params + ";tables=")) {
        java.nio.file.Files.writeString(paramsFile, params)
        println(s"[graft] $out: legacy _PARAMS [$staged] rewritten to " +
          s"[$params] (same copies/src; table membership is per-table)")
        return
      }
      require(staged == params,
        s"staged corpus at $out was generated with [$staged] but this " +
          s"run asks for [$params] — remove $out (or stage into another " +
          "dir) to regenerate")
    } else {
      val existing = Option(new java.io.File(out).listFiles()).toSeq.flatten
      require(!existing.exists(_.getName.endsWith(".parquet")),
        s"staged corpus at $out holds tables but no _PARAMS sentinel — " +
          "it predates parameter stamping and cannot be validated; " +
          s"remove $out to regenerate (or stamp _PARAMS manually if you " +
          "are certain of its provenance)")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.writeString(paramsFile, params)
    }
  }

  private def generate(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    val cp = spark.range(copies).select(col("id").as("copy"))
    def raw(name: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(s"$src/$name.parquet").crossJoin(cp)
    // skip tables already staged; a table counts as staged only when its
    // _SUCCESS marker exists — a run killed mid-write leaves a partial
    // parquet directory a bare-existence check would silently bench
    // against, and a dir staged before a table joined the generator is
    // backfilled rather than trusted. Each block below is independent.
    def missing(name: String): Boolean =
      !new java.io.File(s"$out/$name.parquet/_SUCCESS").exists()

    if (missing("documents"))
    raw("documents", Tables.documents)
      .withColumn("doc_id", col("doc_id") + col("copy") * Stride)
      .withColumn("text", array_join(
        transform(split(col("text"), " "),
          t => concat(lit("c"), col("copy").cast("string"), lit("_"), t)), " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // Copies get a per-copy SIGN-FLIP rotation (a diagonal orthogonal
    // transform): intra-copy geometry — norms, cosines, cluster structure
    // — is preserved EXACTLY, while cross-copy cosines scatter like
    // random projections (|cos| ~ 1/√dim ≪ the 0.4 near-dup threshold),
    // so the near-dup pair graph is ~copies× the original's rather than
    // the quadratic cross-copy blow-up verbatim copies would create.
    // Copy 0 keeps identity signs, so the original corpus is a literal
    // subset. Sign-vector length derives from the DATA, not a hardcoded
    // dim — a fixed-length array would silently null-pad zip_with if the
    // generator ever changed the embedding width.
    if (missing("embeddings")) {
      val dim = spark.read.schema(Tables.embeddings)
        .parquet(s"$src/embeddings.parquet")
        .select(size(col("embedding")).as("d")).head().getInt(0)
      val signRows = (0 until copies).map { c =>
        val r = new scala.util.Random(c * 7919L + 13)
        val signs = Array.fill(dim)(if (c == 0 || r.nextBoolean()) 1.0f else -1.0f)
        (c.toLong, signs.toSeq)
      }
      val signsDf = spark.createDataFrame(signRows).toDF("copy", "signs")
      raw("embeddings", Tables.embeddings)
        .join(broadcast(signsDf), "copy")
        .withColumn("vec_id", col("vec_id") + col("copy") * Stride)
        .withColumn("embedding",
          zip_with(col("embedding"), col("signs"), (x, s) => (x * s).cast("float")))
        .drop("copy", "signs")
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    if (missing("events"))
    raw("events", Tables.events)
      .withColumn("event_id", col("event_id") + col("copy") * Stride)
      .withColumn("user_id", col("user_id") + col("copy") * Stride)
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    if (missing("lineitem"))
    raw("lineitem", Tables.lineitem)
      .withColumn("l_orderkey", col("l_orderkey") + col("copy") * Stride)
      .withColumn("l_partkey", col("l_partkey") + col("copy") * Stride)
      .withColumn("l_suppkey", col("l_suppkey") + col("copy") * Stride)
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // orders + part ride the same key offsets so the order→lineitem and
    // part→lineitem joins stay intact per copy: disjoint join graphs
    // (k-core bipartite graphs, baskets), while brand NAMES repeat across
    // copies — basket pair counts and order totals both scale with
    // copies, so lift is copy-invariant and the pair query measures
    // copies× the work.
    if (missing("orders"))
    raw("orders", Tables.orders)
      .withColumn("o_orderkey", col("o_orderkey") + col("copy") * Stride)
      .withColumn("o_custkey", col("o_custkey") + col("copy") * Stride)
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    if (missing("part"))
    raw("part", Tables.part)
      .withColumn("p_partkey", col("p_partkey") + col("copy") * Stride)
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    // customer/supplier ride the custkey/suppkey offsets (modularity's
    // trade graph: disjoint copies) but keep their nationkeys, so the
    // nation partition — and Q_c — is copy-invariant while the edge
    // counts scale with copies. nation itself is a dim, copied verbatim.
    if (missing("customer"))
    raw("customer", Tables.customer)
      .withColumn("c_custkey", col("c_custkey") + col("copy") * Stride)
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    if (missing("supplier"))
    raw("supplier", Tables.supplier)
      .withColumn("s_suppkey", col("s_suppkey") + col("copy") * Stride)
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    if (missing("nation"))
    spark.read.schema(Tables.nation).parquet(s"$src/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")

    if (missing("region"))
    spark.read.schema(Tables.region).parquet(s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")
  }
}
