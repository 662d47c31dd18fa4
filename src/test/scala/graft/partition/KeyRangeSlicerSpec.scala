package graft.partition

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sync.{SliceKey, Slices}

/** The property the reference's pagination flirts with losing
  * (cmd/root.go:367's extra empty page): slices must be an exact
  * partition of the keyspace — every row in exactly one slice. */
class KeyRangeSlicerSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:slicer"

  /** The read predicates of `lead` cut at `cuts`. */
  private def predicates(lead: String, cuts: Seq[Long]): Array[String] =
    new Slices(SliceKey.Lead(lead), cuts).predicates(url)

  private def checkExactPartition(keys: Seq[Long], slices: Int): Unit = {
    val df = keys.toDF("k")
    val preds = predicates("k", KeyRangeSlicer.quantileCuts(df, "k", slices))
    val total = preds.map(p => df.filter(expr(p)).count()).sum
    assert(total == keys.size, s"rows covered once: $preds")
  }

  test("uniform keys partition exactly") {
    checkExactPartition(1L to 1000L, 8)
  }

  test("skewed keys partition exactly") {
    val skewed = Seq.fill(500)(7L) ++ (1L to 100L) ++ Seq.fill(400)(999999L)
    checkExactPartition(skewed, 6)
  }

  test("random key sets partition exactly (property, seeded)") {
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val keys = Seq.fill(200)(rnd.nextLong() % 100000L)
      checkExactPartition(keys, 2 + rnd.nextInt(8))
    }
  }

  test("no PK or single slice => one full-scan predicate") {
    val df = (1L to 10L).toDF("k")
    assert(predicates("k", Seq.empty).sameElements(Array("1=1")))
    assert(predicates("k", KeyRangeSlicer.quantileCuts(df, "k", 1)).sameElements(Array("1=1")))
  }

  test("empty table => one predicate") {
    val df = spark.emptyDataset[Long].toDF("k")
    assert(predicates("k", KeyRangeSlicer.quantileCuts(df, "k", 4)).length == 1)
  }

  test("histogram cuts: uniform histogram gives balanced exact partition") {
    // 64 equal-width buckets over keys 0..6399, 100 rows each
    val hist = (0 until 64).map(b => (b, 100L))
    val cuts = KeyRangeSlicer.adaptiveCuts((_, _, _) => hist, 0L, 6399L, 4, 64)
    assert(cuts.size == 3)
    val preds = predicates("k", cuts)
    assert(preds.length == 4)
    val df = (0L until 6400L).toDF("k")
    val sizes = preds.map(p => df.filter(expr(p)).count())
    assert(sizes.sum == 6400)
    assert(sizes.forall(s => s >= 1200 && s <= 2000), sizes.toSeq.toString)
  }

  test("histogram cuts: heavy skew still partitions exactly, cuts within bounds") {
    // everything piles into bucket 0 except a tail
    val hist = Seq((0, 10000L), (63, 10L))
    val cuts = KeyRangeSlicer.adaptiveCuts((_, _, _) => hist, 0L, 6399L, 4, 64)
    val df = ((0L until 100L) ++ Seq.fill(50)(6399L)).toDF("k")
    val preds = predicates("k", cuts)
    assert(preds.map(p => df.filter(expr(p)).count()).sum == df.count())
    assert(cuts.forall(c => c > 0L && c <= 6399L))
  }

  test("histogram cuts: empty or degenerate input gives no cuts") {
    def cuts(hist: Seq[(Int, Long)], lo: Long, hi: Long, slices: Int) =
      KeyRangeSlicer.adaptiveCuts((_, _, _) => hist, lo, hi, slices, 64)
    assert(cuts(Seq.empty, 0, 100, 4).isEmpty)
    assert(cuts(Seq((0, 5L)), 7, 7, 4).isEmpty)
    assert(cuts(Seq((0, 5L)), 0, 100, 1).isEmpty)
  }

  test("adaptive cuts split a hyper-clustered keyspace with bounded round trips") {
    // 10k keys: 9000 clustered in [0, 1000), 1000 spread to 1e12
    val keys = (0L until 1000L).flatMap(k => Seq.fill(9)(k)) ++
      (1L to 1000L).map(_ * 1000000000L)
    var calls = 0
    def fetchHist(lo: Long, hi: Long, n: Int): Seq[(Int, Long)] = {
      calls += 1
      val span = BigInt(hi) - BigInt(lo) + 1
      keys.filter(k => k >= lo && k <= hi)
        .groupBy(k => ((BigInt(k) - lo) * n / span).toInt)
        .view.mapValues(_.size.toLong).toSeq
    }
    val cuts = KeyRangeSlicer.adaptiveCuts(fetchHist, 0L, 1000000000000L, 8)
    val preds = predicates("k", cuts)
    val df = keys.toDF("k")
    val sizes = preds.map(p => df.filter(expr(p)).count())
    assert(sizes.sum == keys.size, "exact partition")
    assert(sizes.max <= keys.size / 2, s"hot slice not split: ${sizes.toSeq}")
    assert(calls <= 12, s"too many histogram round trips: $calls")
  }

  test("numSlices mirrors ceil(count/pageSize) with a cap") {
    assert(KeyRangeSlicer.numSlices(0, 100000) == 1)
    assert(KeyRangeSlicer.numSlices(100000, 100000) == 1)
    assert(KeyRangeSlicer.numSlices(100001, 100000) == 2)
    assert(KeyRangeSlicer.numSlices(Long.MaxValue / 2, 1, maxSlices = 512) == 512)
  }

  test("fixture lineitem slices cover every row exactly once") {
    val li = graft.Tables.load(spark, sf0001, "lineitem")
    val preds = predicates("l_orderkey", KeyRangeSlicer.quantileCuts(li, "l_orderkey", 8))
    val total = preds.map(p => li.filter(expr(p)).count()).sum
    assert(total == li.count())
  }
}
