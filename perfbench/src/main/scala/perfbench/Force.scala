package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions.{bit_xor, coalesce, col, count, lit, xxhash64}
import org.apache.spark.sql.types.StructType

/** A forced result: its schema, row count and checksum. */
final case class Forced(schema: StructType, rows: Long, checksum: Long)

object Force {
  /** Materialise every column of `df` in one job and return the row
    * count with the bit_xor of each row's xxhash64. The checksum is
    * independent of row order and partitioning, so it checks a result
    * on the timed path without a second job.
    */
  def apply(df: DataFrame): Forced = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    Forced(df.schema, r.getLong(0), r.getLong(1))
  }

  /** The checksum [[apply]] would return for `rows`, computed on the
    * Spark driver with the same hash expression (seed 42, as `xxhash64`)
    * and no Spark job.
    */
  def expected(schema: StructType, rows: Seq[Seq[Any]]): Forced = {
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val lits = r.zip(schema.fields).map { case (v, f) => Literal.create(v, f.dataType) }
      acc ^ XxHash64(lits, 42L).eval().asInstanceOf[Long]
    }
    Forced(schema, rows.size.toLong, sum)
  }
}
