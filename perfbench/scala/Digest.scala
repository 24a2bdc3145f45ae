package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a query's output: row count
  * plus the sum of one 64-bit hash per row over every output column.
  *
  * Hashing every column keeps Catalyst from pruning projections and
  * windows that a bare `.count()` would skip. Floating-point values
  * are rounded to `Decimals` places and -0.0 is folded into 0.0, so
  * the digest survives summation-order noise; map entries are sorted
  * so map iteration order does not matter.
  */
object Digest {
  val Decimals = 6

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), Decimals) + lit(0.0)
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  /** The one-row (rows, digest) frame; its action is the op's final one. */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      norm(col(s"c$i"), f.dataType)
    }
    val hashed = df.toDF(cols.indices.map(i => s"c$i"): _*)
      .select((if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).as("h"))
    hashed.agg(count(lit(1)).as("rows"),
      coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(BigDecimal(0))).cast(StringType).as("digest"))
  }

  def apply(df: DataFrame): (Long, String) = {
    val r = frame(df).collect()(0)
    (r.getLong(0), r.getString(1))
  }
}
