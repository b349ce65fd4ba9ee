package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a query result: the row count and the
  * exact sum of a 64-bit hash of every row. The sum is taken as a decimal, so
  * it never overflows and duplicate rows count (an XOR would cancel them).
  * Row order and partitioning do not change the digest; any changed value,
  * added row or dropped row does. */
object Digest {

  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = {
    // positional names: results may carry duplicate or dotted column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    Result(r.getLong(0), s"${r.getLong(0)}:$s")
  }

  /** Spark refuses to hash maps and variants; their string form is
    * deterministic for a given value, so those columns hash as strings. */
  private def hashable(c: Column, t: DataType): Column =
    if (needsString(t)) c.cast(StringType) else c

  private def needsString(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => true
    case a: ArrayType => needsString(a.elementType)
    case s: StructType => s.fields.exists(f => needsString(f.dataType))
    case _ => false
  }
}
