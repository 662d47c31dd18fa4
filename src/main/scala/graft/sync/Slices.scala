package graft.sync

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.NumericType

import graft.partition.KeyRangeSlicer

/** The key a table is sliced on: the numeric lead PK itself, or the
  * [[HashKey]] of the whole PK tuple (string and composite PKs, where
  * no numeric order exists to range over). */
sealed trait SliceKey {
  /** The PK columns that identify a range's rows. */
  def pkCols: Seq[String]
  def column: Column
  /** The key as server-side SQL on `url`'s dialect; None when that
    * dialect cannot compute it. */
  def sql(url: String): Option[String]
}

object SliceKey {
  final case class Lead(pk: String) extends SliceKey {
    def pkCols: Seq[String] = Seq(pk)
    def column: Column = col(pk)
    def sql(url: String): Option[String] = Some(pk)
  }

  /** Only MySQL-wire dialects have the server-side md5 rendition. */
  final case class Hashed(pkCols: Seq[String]) extends SliceKey {
    def column: Column = HashKey.column(pkCols.map(col))
    def sql(url: String): Option[String] =
      if (Jobs.isMySqlWire(url)) Some(s"(${HashKey.mysqlSql(pkCols)})") else None
  }
}

/** Deterministic 60-bit slice key over ARBITRARY primary keys: the
  * first 15 hex chars of `md5(concat_ws('|', pk...))` as a bigint in
  * [0, 2^60) — the qt07/qt10 hash-bucket trick applied to sync
  * slicing. md5 is uniform, so FIXED equal-width cuts balance slices
  * with no data scan (no quantile pass, no histogram — the plan is
  * free), and the key is engine-portable: MySQL computes the identical
  * value server-side ([[HashKey.mysqlSql]]), so range DELETEs stay on
  * the server. Composite keys join on '|' after string casts —
  * int/string PKs (the real-world population) render identically on
  * both engines; a float PK would not, and has no business being a PK.
  */
object HashKey {
  val Bits = 60
  val Space: Long = 1L << Bits

  def column(pks: Seq[Column]): Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(concat_ws("|", pks.map(_.cast("string")): _*)), 1, 15), 16, 10)
      .cast("bigint")
  }

  /** k-1 equal-width cuts over the 60-bit space → k slices. */
  def cuts(numSlices: Int): Seq[Long] = {
    require(numSlices > 0, s"bad numSlices=$numSlices")
    (1 until numSlices).map(i => i * (Space / numSlices))
  }

  /** The server-side MySQL rendition (the reference's target dialect —
    * same md5, same 15-hex-char prefix, same base-16→10 conversion).
    * CONV returns a STRING, and a bare string in a numeric comparison
    * coerces to DOUBLE (53-bit mantissa) — rows whose 60-bit key lies
    * within ~2^7 of a slice cut would then classify differently than
    * Spark's exact bigint filter (lost rows or duplicate-key repair
    * failures). The CAST keeps the comparison in exact integers. */
  def mysqlSql(pkCols: Seq[String]): String =
    s"CAST(CONV(SUBSTRING(MD5(CONCAT_WS('|', ${pkCols.mkString(", ")})), 1, 15), 16, 10) AS UNSIGNED)"
}

/** A key space cut into half-open slices — the exact-partition
  * replacement for the reference's keyset pagination
  * (cmd/root.go:321-372). Slice i is [cut(i-1), cut(i)); slice 0 is
  * unbounded below and holds the NULL keys, the last slice is unbounded
  * above, so every row lands in exactly one slice wherever the cuts
  * came from. This is the only code that knows that rule: the sync
  * read's predicates, delta repair's slice ids and its repair ranges
  * all render from here. Cuts may come in any order, repeated, and are
  * computed on first use, so an unused plan from the data costs nothing. */
final class Slices(val key: SliceKey, rawCuts: => Seq[Long]) {

  /** Distinct and sorted. */
  lazy val cuts: IndexedSeq[Long] = rawCuts.distinct.sorted.toIndexedSeq

  def count: Int = cuts.length + 1

  /** One range of consecutive slices, first to last inclusive. */
  private def range(first: Int, last: Int): Slices.Range =
    Slices.Range(key,
      if (first == 0) None else Some(cuts(first - 1)),
      if (last == cuts.length) None else Some(cuts(last)))

  /** One read predicate per slice, on `url`'s dialect. */
  def predicates(url: String): Array[String] =
    Array.tabulate(count)(i => range(i, i).sql(url).getOrElse(
      throw new IllegalArgumentException(s"$key has no SQL form on $url")))

  /** The slice id of key value `k` (the key's column, or a column
    * already holding it): the number of cuts at or below it, by one
    * binary search ([[graft.functions.SliceId]]); a NULL key gets 0. */
  def id(k: Column): Column = graft.functions.SliceId(k, cuts)

  /** At most `n` slices, each a run of adjacent slices of this one (its
    * cuts are a subset of these cuts): a coarser read that still
    * covers every slice whole. */
  def coarsen(n: Int): Slices =
    if (count <= n) this else new Slices(key, (1 until n).map(j => cuts(j * count / n - 1)))

  /** Changed slice ids merged into maximal ranges of adjacent slices. */
  def ranges(changed: Seq[Int]): Seq[Slices.Range] =
    changed.distinct.sorted.foldLeft(List.empty[(Int, Int)]) {
      case ((s, e) :: rest, i) if i == e + 1 => (s, i) :: rest
      case (acc, i)                          => (i, i) :: acc
    }.reverse.map { case (s, e) => range(s, e) }
}

object Slices {

  /** Delta repair's one key rule, from `read`'s schema: a numeric lead
    * PK slices on itself, cut where the source `pushed` (with the read to
    * use instead), else at quantiles of the data; any other PK on the
    * uniform [[HashKey]] of the whole tuple at fixed cuts, no data scan;
    * no PK is one whole-table slice (None). */
  def forRead(read: DataFrame, pk: Seq[String], numSlices: Int)(
      pushed: String => Option[(DataFrame, Slices)]): (DataFrame, Option[Slices]) = {
    val pks = pk.map(_.toLowerCase).filter(read.columns.contains)
    pks.headOption match {
      case None => read -> None
      case Some(lead) if read.schema(lead).dataType.isInstanceOf[NumericType] =>
        val (df, s) = pushed(lead).getOrElse(read ->
          new Slices(SliceKey.Lead(lead), KeyRangeSlicer.quantileCuts(read, lead, numSlices)))
        df -> Some(s)
      case Some(_) => read -> Some(new Slices(SliceKey.Hashed(pks), HashKey.cuts(numSlices)))
    }
  }

  /** The half-open key range [lo, hi) (None = unbounded; the
    * unbounded-below range owns NULL keys), as SQL and as a Column. */
  final case class Range(key: SliceKey, lo: Option[Long], hi: Option[Long]) {

    /** On `url`'s dialect; None when the dialect cannot compute the key. */
    def sql(url: String): Option[String] = key.sql(url).map { k =>
      (lo, hi) match {
        case (Some(a), Some(b)) => s"$k >= $a AND $k < $b"
        case (Some(a), None)    => s"$k >= $a"
        case (None, Some(b))    => s"$k < $b OR $k IS NULL"
        case (None, None)       => "1=1"
      }
    }

    def column: Column = {
      val k = key.column
      (lo, hi) match {
        case (Some(a), Some(b)) => k >= lit(a) && k < lit(b)
        case (Some(a), None)    => k >= lit(a)
        case (None, Some(b))    => k < lit(b) || k.isNull
        case (None, None)       => lit(true)
      }
    }
  }

  /** The rows of any of `ranges`, as one Column. */
  def column(ranges: Seq[Range]): Column = ranges.map(_.column).reduce(_ || _)
}
