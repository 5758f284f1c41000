package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content fingerprint of a DataFrame: the row count
  * plus the exact sum and the xor of a 64-bit hash of every row. Columns
  * are taken in name order; floating-point values, also nested ones, are
  * rounded to 6 decimals first so a float sum that merges in a different
  * order cannot flip the fingerprint; maps are hashed as key-sorted
  * entry arrays.
  */
object Digest {
  final case class Result(rows: Long, fingerprint: String)

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(_, vt, _) => array_sort(map_entries(transform_values(c, (_, v) => canon(v, vt))))
    case _ => c
  }

  def of(df: DataFrame): Result = {
    val cols = df.schema.fields.sortBy(_.name).toSeq
      .map(f => canon(df.col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .head()
    val rows = r.getLong(0)
    val total = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val xor = if (r.isNullAt(2)) 0L else r.getLong(2)
    Result(rows, f"$rows:$total:$xor%016x")
  }
}
