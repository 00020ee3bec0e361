package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a query result: the row count and
  * the wrapping 64-bit sum of per-row hashes. Addition mod 2^64 is
  * commutative and associative, so any row order and any partitioning
  * give the same digest. Floating-point values enter the row hash as
  * ten significant digits, which absorbs the last-bit differences that
  * parallel aggregation order leaves in sums. */
object Digest {

  final case class D(rows: Long, sum: Long) {
    def +(o: D): D = D(rows + o.rows, sum + o.sum)
    def hex: String = f"$sum%016x"
  }

  def fold(hashes: Iterator[Long]): D =
    hashes.foldLeft(D(0L, 0L))((d, h) => D(d.rows + 1, d.sum + h))

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def apply(df: DataFrame): D = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val hashed = named.select(xxhash64(named.schema.fields.toIndexedSeq.map(f =>
      canon(col(f.name), f.dataType)): _*).as("h"))
    import df.sparkSession.implicits._
    hashed.as[Long].mapPartitions { it =>
      val d = fold(it); Iterator((d.rows, d.sum))
    }.collect().foldLeft(D(0L, 0L)) { case (acc, (r, s)) => acc + D(r, s) }
  }
}
