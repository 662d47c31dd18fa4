package graft.sync

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
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
  * prefix (as [[HashKey]]) sums exactly, as the DECIMAL(38,0) sum would.
  *
  * Both sides run as one Spark stage with no shuffle: each is hashed
  * against its own schema, and each partition folds its rows into at
  * most k (rows, sum) partials, one per slice it holds; the driver
  * merges them. Every row of both tables is read into Spark; only the
  * partials reach the driver. */
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

  /** Diff `dst` against `src` over the source's columns, per slice of
    * `slices`, or as one whole-table slice (id 0) when None. Throws when
    * `dst` lacks a source column. */
  def apply(src: DataFrame, dst: DataFrame, slices: Option[Slices]): Result = {
    val cols = src.columns.sorted.toIndexedSeq
    val k = slices.fold(1)(_.count)
    // one cell per (side, slice): side * k + slice id
    def hashed(df: DataFrame, side: Int): DataFrame = {
      val frames = cols.map(canonical(df, _)).map(v =>
        coalesce(concat(length(v).cast("string"), lit(":"), v), lit("N")))
      val h = conv(substring(md5(concat(frames: _*)), 1, 15), 16, 10).cast("bigint")
      df.select(lit(side * k) + slices.fold(lit(0))(s => s.id(s.key.column)), h)
    }
    // destination first: its read-back is typically one unsliced JDBC
    // partition, and scheduled first it runs beside the source's slices
    // instead of after them
    val partials = hashed(dst, 1).union(hashed(src, 0)).queryExecution.toRdd
      .mapPartitions(fold(_, 2 * k)).collect()
    val sums = partials.groupMapReduce(_._1)(p => (p._2, p._3))((a, b) => (a._1 + b._1, a._2 + b._2))
    def side(i: Int): Sums = sums.collect { case (c, v) if c / k == i => c % k -> v }
    Result(side(0), side(1))
  }

  /** One partition's (cell, hash) rows as (cell, rows, exact hash sum)
    * for each cell in [0, cells) that has rows. A hash is below 2^60, so
    * a cell keeps its sum as `carries` * 2^60 + `low`, `low` below 2^60,
    * and no Long addition overflows. */
  private def fold(rows: Iterator[InternalRow], cells: Int): Iterator[(Int, Long, BigInt)] = {
    val n = new Array[Long](cells)
    val low = new Array[Long](cells)
    val carries = new Array[Long](cells)
    rows.foreach { r =>
      val c = r.getInt(0)
      n(c) += 1
      low(c) += r.getLong(1)
      if (low(c) >= HashKey.Space) { low(c) -= HashKey.Space; carries(c) += 1 }
    }
    (0 until cells).iterator.filter(n(_) > 0)
      .map(c => (c, n(c), (BigInt(carries(c)) << HashKey.Bits) + low(c)))
  }
}
