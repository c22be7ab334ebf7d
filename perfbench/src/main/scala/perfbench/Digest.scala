package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive content digest of a result: the
  * sum of each row's xxhash64, with floating-point values rounded to six
  * decimals (and -0.0 folded into 0.0) so that summation order inside the
  * engine cannot change it.
  */
object Digest {
  def apply(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, canonical(_, et))
    case MapType(_, vt, _) => transform_values(c, (_, v) => canonical(v, vt))
    case StructType(fs) => struct(fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
}
