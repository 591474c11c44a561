package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result set, as strict as the DuckDB
  * oracle compare in `tools/oracle_check.py`: column names must match,
  * each column's value kind must match (integer, float, boolean,
  * timestamp, other), and the multisets of rows must be equal value for
  * value after widening integers to 64 bits and floats to doubles.
  *
  * The digest is computed inside Spark, so the rows are never collected.
  * Each row hashes its columns in name order with a null flag per
  * column (xxhash64 skips nulls, so without the flag (null, 1) and (1, null)
  * collide); the row hashes are summed as two 32-bit halves, which cannot
  * overflow below 2^31 rows.
  */
final case class Digest(columns: String, rows: Long, lo: Long, hi: Long)

object Digest {
  private def kind(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "i"
    case FloatType | DoubleType => "f"
    case BooleanType => "b"
    case TimestampType | TimestampNTZType => "M"
    case _ => "O"
  }

  /** Column values in the representation both sides of a compare share. */
  private def norm(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case FloatType | DoubleType =>
      val d = c.cast(DoubleType)
      when(d === 0.0, lit(0.0)).otherwise(d) // -0.0 compares equal to 0.0
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType)) // session is UTC
    case DateType => date_format(c, "yyyy-MM-dd")
    case _: DecimalType => c.cast(StringType)
    case StringType | BooleanType | BinaryType => c
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case other => throw new IllegalArgumentException(s"no digest for type $other")
  }

  /** The schema part of a digest: sorted `name:kind` pairs. */
  def columnsOf(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${kind(f.dataType)}").sorted.mkString(",")

  /** Per-row 64-bit hash over the normalized columns of `schema`. */
  def rowHash(schema: StructType): Column = {
    val cols = schema.fields.sortBy(_.name).toSeq.flatMap { f =>
      val n = norm(col(f.name), f.dataType)
      Seq(n.isNull, n)
    }
    xxhash64(cols: _*)
  }

  /** Aggregates that fold row hashes into (rows, lo, hi). */
  def aggregates(h: Column): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
    coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))

  /** Digest of a whole frame in one aggregation job. */
  def of(df: DataFrame): Digest = {
    val aggs = aggregates(rowHash(df.schema))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    Digest(columnsOf(df.schema), r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
