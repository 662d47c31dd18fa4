package graft.partition

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cut points for PK-range slicing — the Spark-native replacement for
  * the reference's keyset pagination (cmd/root.go:321-372). The
  * reference emits one `ORDER BY pk LIMIT off,n` deferred-join SQL per
  * page; we cut the key space into half-open ranges instead
  * (`graft.sync.Slices` renders them), which (a) are O(1) per slice on a
  * PK index (no deep OFFSET walk), (b) feed straight into
  * `spark.read.jdbc(url, table, predicates, props)` so each slice is one
  * Spark task, and (c) form an exact partition of the keyspace — no
  * duplicate/lost rows, unlike the reference's deliberately-one-extra
  * empty page (`i <= totalPageNum`, cmd/root.go:367).
  *
  * The key is decided once, from the read's schema, by
  * `graft.sync.Slices.forRead`: only a numeric lead PK is cut here (any
  * other PK slices on its uniform hash, no PK is one scan). Two ways to
  * derive its cut points:
  *   - [[adaptiveCuts]] from pushed-down bucket histograms (aggregates
  *     the source database computes over its own PK index — no key data
  *     crosses the wire; `sync.PartitionedReader`, for the JDBC sync
  *     read and delta repair's read, sized by [[numSlices]]);
  *   - [[quantileCuts]] from approximate quantiles of a DataFrame
  *     already at hand (file sources, and JDBC repair of a table too
  *     small for pushed cuts).
  * Both give near-equal slice sizes under key skew — equal-width
  * min/max splitting would not. Composite PKs (cmd/root.go:334-357)
  * slice on the leading column; rows sharing one leading-key value stay
  * in one slice, preserving the partition property without multi-column
  * range logic in SQL.
  */
object KeyRangeSlicer {

  /** Equal-count cuts from adaptively refined pushed-down histograms.
    * One equal-width histogram can't split a hot bucket (a bucket
    * holding several targets' worth of rows — heavy key clustering);
    * this walks the histogram and recurses a SUB-histogram into any
    * bucket crossing more than one target, up to `maxDepth` levels.
    * Each level is one more aggregate the source database computes —
    * bounded by (buckets-with-multiple-targets × depth) extra round
    * trips, never a row transfer. `fetchHist(lo, hi, n)` returns the
    * (bucketIdx, count) histogram of keys in [lo, hi] with n
    * equal-width buckets — the FLOOR((v-lo)*n/span) mapping of
    * `sync.PartitionedReader`'s pushed-down SQL. */
  def adaptiveCuts(
      fetchHist: (Long, Long, Int) => Seq[(Int, Long)],
      lo: Long,
      hi: Long,
      numSlices: Int,
      nBuckets: Int = 64,
      maxDepth: Int = 8): Seq[Long] = {
    if (numSlices <= 1 || hi <= lo) return Seq.empty
    val span = BigInt(hi) - BigInt(lo) + 1
    val nB = if (span < nBuckets) span.toInt else nBuckets
    val counts = Array.fill(nB)(0L)
    fetchHist(lo, hi, nB).foreach { case (b, c) =>
      counts(math.min(math.max(b, 0), nB - 1)) += c
    }
    val total = counts.sum
    if (total == 0) return Seq.empty
    // inclusive bucket bounds under the SQL FLOOR mapping
    def bLo(i: Int): Long = (BigInt(lo) + (BigInt(i) * span + nB - 1) / nB).toLong
    def bHi(i: Int): Long = (BigInt(lo) + (BigInt(i + 1) * span + nB - 1) / nB - 1).toLong
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var cum = 0L
    var k = 1
    var i = 0
    while (i < nB && k < numSlices) {
      val c = counts(i)
      if (c > 0) {
        cum += c
        var t = 0
        while (k < numSlices && cum * numSlices >= k.toLong * total) {
          t += 1; k += 1
        }
        if (t > 0) {
          val blo = bLo(i)
          val bhi = bHi(i)
          val boundary = math.min(bhi + 1, hi)
          if (t == 1 || bhi <= blo || maxDepth <= 0) out += boundary
          else {
            val sub = adaptiveCuts(fetchHist, blo, bhi, t + 1, nBuckets, maxDepth - 1)
            out ++= sub
            // close the bucket if refinement under-delivered
            if (sub.size < t) out += boundary
          }
        }
      }
      i += 1
    }
    out.distinct.sorted.filter(c => c > lo && c <= hi).toSeq
  }

  /** Quantile-derived cut values over a numeric lead key of a
    * DataFrame already at hand; empty when one slice suffices. */
  def quantileCuts(df: DataFrame, lead: String, numSlices: Int): Seq[Long] = {
    if (numSlices <= 1) return Seq.empty
    val probs = (1 until numSlices).map(_.toDouble / numSlices).toArray
    df.select(col(lead).cast("double"))
      .na.drop()
      .stat
      .approxQuantile(lead, probs, 0.001)
      .map(math.floor(_).toLong)
      .toSeq
  }

  /** Slice count for a table: ceil(rowCount / pageSize), mirroring the
    * reference's page count (cmd/root.go:358-364) but capped so tiny
    * tables don't fan out. */
  def numSlices(rowCount: Long, pageSize: Long, maxSlices: Int = 512): Int =
    math.min(maxSlices.toLong, math.max(1L, (rowCount + pageSize - 1) / pageSize)).toInt
}
