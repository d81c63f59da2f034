package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reduces an op's result to (row count, order-insensitive checksum)
  * inside Spark, in a form that consumes every output column, so
  * Catalyst cannot prune any projected call out of the timed plan the
  * way a bare `count()` can.
  *
  * Per row: xxhash64 over every column (floating values rounded to 6
  * decimals so the last bits of a partition-order-dependent sum cannot
  * flip it; each column paired with its null flag). Per result: the
  * sums of the hash's low and high 32-bit halves, which cannot overflow
  * a bigint under ANSI mode below 2^31 rows and which a duplicated row
  * changes, plus the bit_xor of the hashes. The three are folded into
  * one 64-bit value on the driver. */
object Checksum {

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case _: DecimalType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => canon(x, et))
    case st: StructType if st.fields.exists(f => hasFloat(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case _: MapType => c.cast(StringType)
    case _ => c
  }

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: DecimalType => true
    case ArrayType(et, _) => hasFloat(et)
    case st: StructType => st.fields.exists(f => hasFloat(f.dataType))
    case _: MapType => true
    case _ => false
  }

  /** The timed form of `df`: one row (n, lo, hi, x, q), q being the
    * number of distinct values of column `distinct` if given (1 if `df`
    * has no such column), else 0. */
  def frame(df: DataFrame, distinct: Option[String] = None): DataFrame = {
    val q = distinct.map(c => df.columns.indexOf(c) match {
      case -1 => lit(1L)
      case i => countDistinct(col(s"c$i"))
    }).getOrElse(lit(0L))
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val parts = named.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      Seq(canon(c, f.dataType), c.isNull)
    }
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    named.select(col("*"), h.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"),
      coalesce(bit_xor(col("h")), lit(0L)).as("x"),
      q.as("q"))
  }

  /** Collect the timed form: (rows, checksum, distinct query ids). */
  def collect(timed: DataFrame): (Long, Long, Long) = {
    val r = timed.head()
    val (n, lo, hi, x) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    (n, fold(n, lo, hi, x), r.getLong(4))
  }

  private def fold(n: Long, lo: Long, hi: Long, x: Long): Long = {
    var z = x
    for (v <- Seq(n, lo, hi)) {
      z = (z ^ v) * 0x9E3779B97F4A7C15L
      z ^= z >>> 29
    }
    z
  }
}
