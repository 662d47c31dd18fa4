package graft.sync

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The row-exact checksum diff behind `compare --content` and delta
  * repair: per slice, each side's row count and the sum of one md5 per
  * row. The sum is order-independent, and it changes when a value moves
  * between rows, which per-column sums cannot see.
  *
  * A row hashes the framed tuple of its columns in name order: each
  * value as `<length>:<value>`, a NULL as `N`. No separator inside a
  * value and no NULL's position can make two different rows frame
  * alike. Values frame their [[canonical]] string. The 60-bit md5
  * prefix (as [[HashKey]]) sums as DECIMAL(38,0), which no row count
  * overflows.
  *
  * Both sides run as one aggregation job: each is hashed against its own
  * schema, and at most two rows per slice come back. Every row of both
  * tables is read into Spark; only the sums reach the driver. */
object SliceDiff {

  /** Slice id -> (rows, checksum). */
  type Sums = Map[Int, (Long, BigInt)]

  final case class Result(src: Sums, dst: Sums) {
    /** Slices whose count or checksum differs, ascending. */
    val changed: Seq[Int] =
      (src.keySet ++ dst.keySet).toSeq.sorted.filter(i => src.get(i) != dst.get(i))
  }

  /** Column `c` of `df` as one string per value on every engine: float
    * and double through DECIMAL(28,10), since raw float rendering is
    * engine-shaped (shortest-roundtrip vs fixed digits, float-widened
    * JDBC storage); everything else through a plain string cast. */
  private[sync] def canonical(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case FloatType | DoubleType => col(c).cast("decimal(28,10)").cast("string")
    case _                      => col(c).cast("string")
  }

  /** The slice key's column while hashing: computed once per row, not
    * once per cut. */
  private val KeyCol = "__sk"

  /** Diff `dst` against `src` over the source's columns, per slice of
    * `slices`, or as one whole-table slice (id 0) when None. Throws when
    * `dst` lacks a source column. */
  def apply(src: DataFrame, dst: DataFrame, slices: Option[Slices]): Result = {
    val cols = src.columns.sorted.toIndexedSeq
    def hashed(df: DataFrame, side: Int): DataFrame = {
      val frames = cols.map(canonical(df, _)).map(v =>
        coalesce(concat(length(v).cast("string"), lit(":"), v), lit("N")))
      val h = conv(substring(md5(concat(frames: _*)), 1, 15), 16, 10).cast("decimal(38,0)")
      slices.fold(df.select(lit(0).as("slice"), h.as("h"))) { s =>
        df.withColumn(KeyCol, s.key.column).select(s.id(col(KeyCol)).as("slice"), h.as("h"))
      }.withColumn("side", lit(side))
    }
    // destination first: its read-back is typically one unsliced JDBC
    // partition, and scheduled first it runs beside the source's slices
    // instead of after them
    val rows = hashed(dst, 1).union(hashed(src, 0))
      .groupBy("side", "slice")
      .agg(count(lit(1)), sum("h"))
      .collect()
    def side(i: Int): Sums = rows.filter(_.getInt(0) == i).map(r =>
      r.getInt(1) -> (r.getLong(2), BigInt(r.getDecimal(3).toBigInteger))).toMap
    Result(side(0), side(1))
  }
}
