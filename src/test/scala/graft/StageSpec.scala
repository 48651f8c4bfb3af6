package graft

import graft.operators.Scale.TenantStride
import org.apache.spark.sql.functions._

/** Pins [[Stage]]'s replication contract on a 2-copy staging of the
  * sf0.001 testdata: every keyed table doubles with copy 1's keys offset
  * by exactly the tenant stride, copy 0 is the source itself, the dims
  * are copied verbatim, and the `_PARAMS` sentinel makes a rerun reuse
  * the staged tables and a different `copies` fail. */
class StageSpec extends SparkSpec {

  /** Every table Stage offsets, with the key columns it offsets. */
  private val Keyed = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "part" -> Seq("p_partkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"))
  private val Dims = Seq("nation", "region")

  private lazy val out: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage")
      .resolve("x2").toString
    Stage.stage(spark, sf, dir, 2)
    dir
  }

  private def src(t: String) = Tables.load(spark, sf, t)
  private def staged(t: String) = Tables.load(spark, out, t)
  private def copy(t: String, c: Int) = {
    val key = col(Keyed(t).head)
    staged(t).filter(if (c == 0) key < TenantStride else key >= TenantStride)
  }
  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("Stage doubles every keyed table and copies nation/region verbatim") {
    for (t <- Keyed.keys)
      assert(staged(t).count() == 2 * src(t).count(), s"$t must double")
    for (t <- Dims)
      assert(sameRows(staged(t), src(t)), s"$t must be copied verbatim")
  }

  test("Stage copy 0 is a literal subset: same ids, bit-identical embeddings") {
    for ((t, keys) <- Keyed)
      assert(sameRows(copy(t, 0).select(keys.map(col): _*),
        src(t).select(keys.map(col): _*)), s"$t copy 0 must keep its keys")
    def bits(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
      df.select("vec_id", "embedding").collect().map(r =>
        r.getLong(0) -> r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits)
      ).toMap
    val original = bits(src("embeddings"))
    assert(original.nonEmpty)
    assert(bits(copy("embeddings", 0)) == original)
  }

  test("Stage offsets copy-1 keys by exactly the tenant stride") {
    for ((t, keys) <- Keyed)
      assert(sameRows(
        copy(t, 1).select(keys.map(k => (col(k) - TenantStride).as(k)): _*),
        src(t).select(keys.map(col): _*)), s"$t copy 1 must be offset by $TenantStride")
  }

  test("Stage reuses the staged tables when called again with the same params") {
    val tables = Keyed.keys.toSeq ++ Dims
    def stamps = tables.map(t => t -> new java.io.File(s"$out/$t.parquet/_SUCCESS"))
      .map { case (t, f) => assert(f.exists(), s"$t has no _SUCCESS"); t -> f.lastModified() }
    val before = stamps
    Stage.stage(spark, sf, out, 2)
    assert(stamps == before, "a same-params rerun must not rewrite any table")
  }

  test("Stage refuses a different copies count on the same dir") {
    val e = intercept[IllegalArgumentException] {
      Stage.stage(spark, sf, out, 3)
    }
    assert(e.getMessage.contains("copies=2"), e.getMessage)
  }
}
