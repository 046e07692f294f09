package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's action: an order-independent fingerprint that consumes
  * every output column, so Catalyst cannot prune any of the projection a
  * caller would read.
  *
  * Each row hashes to xxhash64 over all of its (normalized) columns; the
  * fingerprint is the row count, the DECIMAL sum of the row hashes and
  * their XOR. A decimal(38,0) sum cannot overflow (a plain long
  * `sum(xxhash64(*))` raises ARITHMETIC_OVERFLOW under ANSI mode), and
  * unlike XOR alone it does not cancel duplicate rows.
  *
  * Normalization keeps the fingerprint independent of input row order:
  * floating values render to 10 significant digits (a summation order can
  * move the last bits), -0.0 becomes 0.0, map entries are sorted, and
  * types xxhash64 cannot take are hashed through their string form.
  */
object Fingerprint {

  private def floating(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => floating(et)
    case StructType(fs) => fs.exists(f => floating(f.dataType))
    case _: MapType => true
    case _ => false
  }

  private[perfbench] def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      format_string("%.9e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) if floating(et) => transform(c, x => normalize(x, et))
    case StructType(fs) if floating(dt) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      val entries = transform(map_entries(c), e =>
        struct(normalize(e.getField("key"), kt).as("k"),
          normalize(e.getField("value"), vt).as("v")))
      array_sort(entries)
    case _: NumericType | _: StringType | BinaryType | BooleanType | DateType |
        TimestampType | TimestampNTZType | NullType => c
    case ArrayType(_, _) | StructType(_) => c
    case _ => c.cast(StringType)
  }

  /** Returns "rows:sum:xor" for `df`. */
  def apply(df: DataFrame): String = {
    val fields = df.schema.fields.toIndexedSeq
    // positional names: output columns may repeat a name or contain dots
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val hashed = renamed.select(xxhash64(fields.zipWithIndex.map { case (f, i) =>
      normalize(col(s"c$i"), f.dataType) }: _*).as("h"))
    val r = hashed.agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))),
      bit_xor(col("h"))).head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val xor = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:$total:$xor"
  }
}
