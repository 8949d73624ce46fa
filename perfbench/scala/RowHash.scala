package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content fingerprint of a DataFrame: its row count and
  * the exact (decimal) sum of one 64-bit hash per row, so duplicate rows
  * count and no overflow can occur under ANSI arithmetic.
  *
  * Rows are normalized the way the repo's oracle compare does it: columns
  * are taken in name order and floating-point values (also inside arrays,
  * structs and maps) are rounded to 9 decimal places, so ULP-level noise
  * from a different summation order cannot change the fingerprint. */
object RowHash {
  final case class Fingerprint(rows: Long, hash: String)

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9) + lit(0.0) // folds -0.0 into 0.0
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => normalized(x, et))
    case StructType(fs) if fs.exists(f => needsNorm(f.dataType)) =>
      struct(fs.toSeq.map(f => normalized(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) if needsNorm(vt) =>
      transform_values(c, (_, v) => normalized(v, vt))
    case _ => c
  }

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case MapType(_, vt, _) => needsNorm(vt)
    case _ => false
  }

  def of(df: DataFrame): Fingerprint = {
    val fields = df.schema.fields.sortBy(_.name)
    val rowHash = xxhash64(fields.toSeq.map(f => normalized(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.agg(count(lit(1)), sum(rowHash.cast(DecimalType(38, 0)))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }
}
