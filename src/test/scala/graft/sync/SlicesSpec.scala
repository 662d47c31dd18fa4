package graft.sync

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}

import graft.SparkSpec

/** The one slice model: its read predicates, slice ids and repair
  * ranges agree with each other and with an independent count of cuts,
  * for any keys (NULL included) and any cuts (repeated, unsorted). */
class SlicesSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:slices"

  private val gen = for {
    keys <- Gen.listOf(Gen.option(Gen.choose(-25L, 25L)))
    cuts <- Gen.listOf(Gen.choose(-20L, 20L)).map(_.take(8))
    changed <- Gen.listOf(Gen.choose(0, 8))
  } yield (keys.take(30), cuts, changed)

  test("every row is in exactly one slice, and each merged range selects exactly its slices") {
    val result = check(Parameters.default.withMinSuccessfulTests(40),
      Prop.forAll(gen) { case (keys, cuts, changed) =>
        val slices = new Slices(SliceKey.Lead("k"), cuts)
        val preds = slices.predicates(url)
        val ids = changed.filter(_ < slices.count)
        val ranges = slices.ranges(ids)
        def hit(c: org.apache.spark.sql.Column) = coalesce(c, lit(false))
        val cols = Seq(col("k"), slices.id(col("k"))) ++
          preds.map(p => hit(expr(p))) ++
          ranges.flatMap(r => Seq(hit(expr(r.sql(url).get)), hit(r.column)))
        val rows = keys.toDF("k").select(cols: _*).collect()
        // the ids each range must cover: maximal runs of adjacent ids
        val runs = ids.distinct.sorted.filterNot(i => ids.contains(i - 1))
          .map(s => (s, Iterator.from(s).takeWhile(ids.contains).toSeq.last))
        val distinctCuts = cuts.distinct
        ranges.size == runs.size && rows.forall { r =>
          val id = r.getInt(1)
          val expectedId = if (r.isNullAt(0)) 0 else distinctCuts.count(_ <= r.getLong(0))
          val matched = preds.indices.filter(i => r.getBoolean(2 + i))
          val inRanges = runs.indices.forall { j =>
            val want = id >= runs(j)._1 && id <= runs(j)._2
            val at = 2 + preds.length + 2 * j
            r.getBoolean(at) == want && r.getBoolean(at + 1) == want
          }
          id == expectedId && matched == Seq(id) && inRanges
        }
      })
    assert(result.passed, result.status.toString)
  }

  private val coarseGen = for {
    keys <- Gen.listOf(Gen.option(Gen.choose(-25L, 25L)))
    cuts <- Gen.listOf(Gen.choose(-20L, 20L)).map(_.take(16))
    n <- Gen.choose(1, 10)
  } yield (keys.take(30), cuts, n)

  test("a coarsened read covers whole runs of adjacent diff slices") {
    val result = check(Parameters.default.withMinSuccessfulTests(40),
      Prop.forAll(coarseGen) { case (keys, cuts, n) =>
        val fine = new Slices(SliceKey.Lead("k"), cuts)
        val coarse = fine.coarsen(n)
        // the coarse slice of each diff slice, from the cuts alone
        val of = (0 until fine.count).map(i =>
          if (i == 0) 0 else coarse.cuts.count(_ <= fine.cuts(i - 1)))
        val runs = of.zip(of.drop(1)).forall { case (a, b) => b == a || b == a + 1 }
        val preds = coarse.predicates(url)
        // every cut is a key too, so each slice boundary is probed
        val rows = (keys ++ cuts.map(Option(_))).toDF("k")
          .select(fine.id(col("k")) +: preds.map(p => coalesce(expr(p), lit(false))).toIndexedSeq: _*)
          .collect()
        coarse.count == math.min(n, fine.count) &&
          coarse.cuts.forall(fine.cuts.contains) &&
          of.head == 0 && of.last == coarse.count - 1 && runs &&
          rows.forall { r =>
            preds.indices.filter(j => r.getBoolean(1 + j)) == Seq(of(r.getInt(0)))
          }
      })
    assert(result.passed, result.status.toString)
  }

  /** Keys with fractions and negatives, NULL included, as exact decimals. */
  private val typedGen = for {
    keys <- Gen.listOf(Gen.option(Gen.oneOf(
      Gen.choose(-1000, 1000).map(BigDecimal(_) / 100),
      Gen.oneOf(BigDecimal("-0.5"), BigDecimal("2.5"), BigDecimal("-3"), BigDecimal("0")))))
    cuts <- Gen.listOf(Gen.choose(-8L, 8L)).map(_.take(8))
  } yield (keys.take(30), cuts)

  test("INT, BIGINT, DOUBLE and DECIMAL(20,2) keys get the count of cuts at or below them") {
    val result = check(Parameters.default.withMinSuccessfulTests(30),
      Prop.forAll(typedGen) { case (keys, cuts) =>
        val slices = new Slices(SliceKey.Lead("k"), cuts)
        val ranges = (0 until slices.count).map(i => slices.ranges(Seq(i)).head.column)
        Seq("int", "bigint", "double", "decimal(20,2)").forall { t =>
          val rows = keys.toDF("raw").select(col("raw").cast(t).as("k"))
            .select(col("k") +: slices.id(col("k")) +:
              ranges.map(r => coalesce(r, lit(false))): _*)
            .collect()
          rows.forall { r =>
            val id = r.getInt(1)
            val expected =
              if (r.isNullAt(0)) 0
              else cuts.distinct.count(c => BigDecimal(c) <= BigDecimal(r.get(0).toString))
            id == expected && ranges.indices.filter(i => r.getBoolean(2 + i)) == Seq(id)
          }
        }
      })
    assert(result.passed, result.status.toString)
  }
}
