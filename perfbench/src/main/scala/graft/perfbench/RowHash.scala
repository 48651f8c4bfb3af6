package graft.perfbench

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result, computed in Spark.
  *
  * Every output column feeds one xxhash64 per row, so no column can be
  * pruned away the way a bare `count()` lets Catalyst prune it; the rows
  * are then folded with a commutative sum (as DECIMAL(38,0), which cannot
  * overflow) and a bit-xor, plus the row count. Columns are taken in
  * name order, so a reordered projection digests the same, and the names
  * are part of the digest, so a renamed column does not. */
object RowHash {

  def digest(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) => hashable(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = byPos.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .head()
    val names = fields.map(_._1.name).mkString(",")
    val sumPart = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val xorPart = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}:$sumPart:$xorPart%016x:${names.hashCode}%08x"
  }

  /** Rows counted in a digest. */
  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong

  /** xxhash64 rejects maps and some user types: give them a hashable,
    * order-stable form. */
  private def hashable(c: Column, dt: DataType): Column = dt match {
    case VectorType => vector_to_array(c)
    case _: MapType => array_sort(map_entries(c))
    case _: UserDefinedType[_] | _: VariantType => c.cast(StringType)
    case _ => c
  }
}
