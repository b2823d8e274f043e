package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result digest: row count plus the sum of a 64-bit
  * `xxhash64` over every output column. Hashing every column makes the
  * timed action consume the whole result, so Catalyst cannot prune an
  * output column's work the way a bare `count()` lets it.
  *
  * The 64-bit hashes are summed as two 32-bit halves in separate longs:
  * each term is below 2^32, so neither sum can overflow below 2^31 rows.
  * (A plain `sum(xxhash64(...))` raises ARITHMETIC_OVERFLOW under ANSI.)
  *
  * Values the oracle check treats as equal hash equally: -0.0 is folded
  * to 0.0 and every NaN to the canonical NaN, also inside arrays, structs
  * and map values. A null and its neighbour cannot trade places
  * unnoticed, because each column's null flag is hashed before it. */
object Digest {

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(_, vt, _) => hasFloat(vt)
    case _ => false
  }

  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      when(isnan(c), lit(Double.NaN).cast(dt))
        .when(c === 0, lit(0.0).cast(dt))
        .otherwise(c)
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => normalize(x, et))
    case StructType(fs) if hasFloat(dt) =>
      when(c.isNull, lit(null).cast(dt)).otherwise(
        struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(_, vt, _) if hasFloat(vt) => transform_values(c, (_, v) => normalize(v, vt))
    case _ => c
  }

  /** One-row frame (n, hi, lo) whose collect is the timed action. */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val parts = named.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      Seq(c.isNull, normalize(c, f.dataType))
    }
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"))
  }

  /** Render the collected digest row as `n:hi:lo`. */
  def render(frameResult: DataFrame): (String, Long) = {
    val r = frameResult.collect()(0)
    (s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}", r.getLong(0))
  }
}
