package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content checksum of a DataFrame: the row count and
  * the sum over rows of a 31-bit row hash. Floating-point columns are
  * hashed at ten significant digits, so a last-ulp difference between two
  * summation orders of the same correct result does not read as a wrong
  * answer.
  */
object Checksum {
  final case class Sum(rows: Long, hash: Long)

  private def canon(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => format_string("%.10g", c.cast(DoubleType))
    case _ => c
  }

  def of(df: DataFrame): Sum = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(2147483647L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    Sum(r.getLong(0), r.getLong(1))
  }
}
