package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}

import graft.{SparkSpec, Tables}
import graft.catalog.{JdbcCatalog, ParquetCatalog}
import graft.config.Endpoint

/** The row-exact checksum diff and the content compare built on it:
  * a value moved between rows is a difference, row order is not, and
  * the compare's reports keep their shape on every edge path. */
class SliceDiffSpec extends SparkSpec {
  import spark.implicits._

  private type Row4 = (Long, Option[String], Option[String], Option[Int])
  private type Pair = (Option[String], Option[String])

  /** Rows 3k, 3k+1, 3k+2 share slice k. */
  private val slices = new Slices(SliceKey.Lead("id"), Seq(3L, 6L, 9L))

  private def frame(rows: Seq[Row4]) = rows.toDF("id", "a", "b", "c")

  /** Values built from the framing's own characters, NULL included. */
  private val genValue: Gen[Option[String]] = Gen.option(
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.oneOf('a', '|', ':', '1', '2', 'N')))
      .map(_.mkString))

  private val genCase = for {
    n <- Gen.choose(4, 12)
    rows <- Gen.listOfN(n, Gen.zip(genValue, genValue, Gen.option(Gen.choose(0, 3))))
    q <- Gen.choose(0, (n - 2) / 3)
    r <- Gen.choose(0, 1)
    column <- Gen.oneOf(1, 2, 3)
    seed <- Gen.long
  } yield (rows.zipWithIndex.map { case ((a, b, c), i) => (i.toLong, a, b, c) },
    math.min(3 * q + r, n - 2), column, seed)

  test("a value swapped between two rows flags exactly their slice; row order flags nothing") {
    val result = check(Parameters.default.withMinSuccessfulTests(15),
      Prop.forAll(genCase) { case (rows, i, column, seed) =>
        val (x, y) = (rows(i), rows(i + 1))
        def swap(r: Row4, o: Row4): Row4 = column match {
          case 1 => r.copy(_2 = o._2)
          case 2 => r.copy(_3 = o._3)
          case _ => r.copy(_4 = o._4)
        }
        val swapped = rows.updated(i, swap(x, y)).updated(i + 1, swap(y, x))
        val moved = swap(x, y) != x
        val src = frame(rows)
        val shuffled = frame(new scala.util.Random(seed).shuffle(rows)).repartition(3)
        SliceDiff(src, frame(swapped), Some(slices)).changed ==
          (if (moved) Seq(i / 3) else Nil) &&
          SliceDiff(src, frame(swapped), None).changed == (if (moved) Seq(0) else Nil) &&
          SliceDiff(src, shuffled, Some(slices)).changed.isEmpty
      })
    assert(result.passed, result.status.toString)
  }

  test("NULL, empty and look-alike values hash apart") {
    val one = Seq(None, Some(""), Some("N"), Some("0:"), Some("1:N"))
    for (u <- one; v <- one if u != v)
      assert(SliceDiff(Seq(u).toDF("a"), Seq(v).toDF("a"), None).changed == Seq(0), s"$u vs $v")
    // where a separator or a NULL's position would collide
    val pairs: Seq[(Pair, Pair)] = Seq(
      (Some("a|b"), Some("c")) -> (Some("a"), Some("b|c")),
      (Some("ab"), Some("")) -> (Some("a"), Some("b")),
      (None, Some("")) -> (Some(""), None),
      (Some("1:a"), None) -> (None, Some("1:a")))
    for ((u, v) <- pairs)
      assert(SliceDiff(Seq(u).toDF("a", "b"), Seq(v).toDF("a", "b"), None).changed == Seq(0),
        s"$u vs $v")
  }

  test("a Derby round trip of a DOUBLE column hashes equal; a last-digit nudge does not") {
    val url = "jdbc:derby:memory:slicediffdbl;create=true"
    val src = Tables.load(spark, sf0001, "customer").select("c_custkey", "c_acctbal")
    val sink = JdbcSink(Endpoint(url), numPartitions = 2)
    sink.overwrite(src, "balrow")
    val back = sink.readBack(spark, "balrow")
    assert(SliceDiff(src, back, None).changed.isEmpty)
    val nudged = src.withColumn("c_acctbal",
      when(col("c_custkey") === 1, col("c_acctbal") + 0.0000000001)
        .otherwise(col("c_acctbal")))
    assert(SliceDiff(src, nudged, None).changed == Seq(0))
  }

  /** The diff as a shuffled aggregate: the slice id as one CASE term
    * per cut, the hash summed as DECIMAL(38,0) per (side, slice).
    * [[SliceDiff]] must agree with it on every input. */
  private def aggregated(src: DataFrame, dst: DataFrame, slices: Option[Slices]): SliceDiff.Result = {
    val cols = src.columns.sorted.toIndexedSeq
    def hashed(df: DataFrame, side: Int): DataFrame = {
      val frames = cols.map(SliceDiff.canonical(df, _)).map(v =>
        coalesce(concat(length(v).cast("string"), lit(":"), v), lit("N")))
      val h = conv(substring(md5(concat(frames: _*)), 1, 15), 16, 10).cast("decimal(38,0)")
      val id = slices.fold(lit(0)) { s =>
        s.cuts.foldLeft(lit(0))((acc, c) => acc + when(s.key.column >= lit(c), 1).otherwise(0))
      }
      df.select(lit(side).as("side"), id.as("slice"), h.as("h"))
    }
    val rows = hashed(dst, 1).union(hashed(src, 0))
      .groupBy("side", "slice").agg(count(lit(1)), sum("h")).collect()
    def side(i: Int): SliceDiff.Sums = rows.filter(_.getInt(0) == i).map(r =>
      r.getInt(1) -> (r.getLong(2), BigInt(r.getDecimal(3).toBigInteger))).toMap
    SliceDiff.Result(side(0), side(1))
  }

  private type KeyedRow = (Option[Long], Option[String], Option[Double])

  private val genKeyedRow: Gen[KeyedRow] =
    Gen.zip(Gen.option(Gen.choose(-6L, 6L)), genValue, Gen.option(Gen.oneOf(-0.5, 0.0, 2.5, 1e-11)))

  /** Few rows, or one slice's worth past 63 rows, whose hash sum
    * passes Long.MaxValue. */
  private val genRows: Gen[List[KeyedRow]] =
    Gen.oneOf(Gen.choose(0, 10), Gen.choose(64, 80)).flatMap(Gen.listOfN(_, genKeyedRow))

  /** (source rows, destination rows, lead-key cuts, hashed-key slices):
    * the destination empty, reordered, edited in place or unrelated. */
  private val genSides = for {
    src <- genRows
    other <- genRows
    edits <- Gen.listOf(Gen.choose(0, 80))
    dst <- Gen.oneOf(Nil, new scala.util.Random(edits.sum).shuffle(src),
      src.zipWithIndex.map { case (r, i) => if (edits.contains(i)) r.copy(_2 = Some("x")) else r },
      other)
    cuts <- Gen.listOf(Gen.choose(-6L, 6L)).map(_.take(6))
    hashed <- Gen.choose(1, 6)
  } yield (src, dst, cuts, hashed)

  test("the one-stage diff equals the shuffled DECIMAL(38,0) aggregate on every input") {
    var wide = false
    val result = check(Parameters.default.withMinSuccessfulTests(25),
      Prop.forAll(genSides) { case (srcRows, dstRows, cuts, hashed) =>
        val src = srcRows.toDF("id", "a", "b")
        val dst = dstRows.toDF("id", "a", "b").repartition(2)
        Seq(None, Some(new Slices(SliceKey.Lead("id"), cuts)),
          Some(new Slices(SliceKey.Hashed(Seq("a", "id")), HashKey.cuts(hashed)))).forall { s =>
          val diff = SliceDiff(src, dst, s)
          wide ||= (diff.src.values ++ diff.dst.values).exists(_._2 > Long.MaxValue)
          diff == aggregated(src, dst, s)
        }
      })
    assert(result.passed, result.status.toString)
    assert(wide, "no generated slice summed past Long.MaxValue")
  }

  test("one SliceDiff is one Spark job that writes no shuffle bytes") {
    val url = "jdbc:derby:memory:slicediffjobs;create=true"
    val cat = new JdbcCatalog(Endpoint(url))
    DdlReplay.replay(cat, Seq("CREATE TABLE jobsrc (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(16))"))
    JdbcSink(Endpoint(url)).append((1L to 400L).map(i => (i, s"v$i")).toDF("id", "v"), "jobsrc")
    val sink = JdbcSink(Endpoint(url))
    sink.overwrite(cat.read(spark, "jobsrc"), "jobdst")
    val (src, slices) = cat.readSliced(spark, "jobsrc", 16, 100L)
    assert(slices.exists(_.count == 16) && src.rdd.getNumPartitions == 4)
    val dst = Normalize.lowercaseColumns(sink.readBack(spark, "jobdst"))
    for ((name, s) <- Seq("sliced" -> slices, "whole" -> None)) {
      val (diff, jobs, shuffled) = SparkJobs.withShuffle(spark, s"slicediff-$name")(
        Jobs.tagged(spark, s"slicediff-$name")(SliceDiff(src, dst, s)))
      assert(diff.changed.isEmpty && diff.src.values.map(_._1).sum == 400L, s"$name: $diff")
      assert(jobs == 1 && shuffled == 0L, s"$name: $jobs jobs, $shuffled shuffle bytes")
    }
  }

  /** Source and destination parquet dirs holding `tables`. */
  private def dirs(src: Map[String, DataFrame], dst: Map[String, DataFrame])
      : (ParquetCatalog, FileSink) = {
    def dir(tables: Map[String, DataFrame]) = {
      val d = java.nio.file.Files.createTempDirectory("graft_slicediff").toString
      tables.foreach { case (t, df) => ParquetSink(d).overwrite(df, t) }
      d
    }
    (new ParquetCatalog(dir(src)), ParquetSink(dir(dst)))
  }

  test("content compare says NO when a value is swapped between two rows") {
    val a = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "p")
    val b = Seq((1L, 20.0), (2L, 10.0)).toDF("id", "p")
    val (cat, sink) = dirs(Map("swap" -> a, "same" -> a), Map("swap" -> b, "same" -> a))
    assert(Compare.contentCompare(spark, cat, sink, Seq("swap", "same")) == Seq(
      Compare.CompareRow("swap", 2, 2, "YES", "NO"),
      Compare.CompareRow("same", 2, 2, "YES", "YES")))
  }

  test("content compare edge paths: missing table, missing column, input order") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val names = Seq("t3", "t0", "t5", "t1", "t4", "t2")
    val (cat, sink) = dirs(
      (names :+ "gone" :+ "narrow").map(_ -> a).toMap,
      names.map(_ -> a).toMap + ("narrow" -> a.select("id")))
    val rows = Compare.contentCompare(spark, cat, sink, names ++ Seq("gone", "narrow"))
    assert(rows.map(_.table_name) == names ++ Seq("gone", "narrow"))
    assert(rows.take(names.size).forall(_.is_ok == "YES"), rows.toString)
    assert(rows(names.size) == Compare.CompareRow("gone", 2, -1, "NO", "NO"))
    assert(rows(names.size + 1) == Compare.CompareRow("narrow", 2, 2, "YES", "NO"))
  }
}
