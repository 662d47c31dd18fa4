package graft.sync

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.JdbcCatalog
import graft.config.Endpoint

/** Checksum-diff repair sync: updated rows (invisible to the watermark
  * path) are found by per-slice checksum compare and repaired by
  * touching only the changed ranges. */
class DeltaSyncSpec extends SparkSpec {
  import spark.implicits._

  private val srcUrl = "jdbc:derby:memory:deltasrc;create=true"
  private val dstUrl = "jdbc:derby:memory:deltadst;create=true"
  private lazy val srcCat = new JdbcCatalog(Endpoint(srcUrl))
  private lazy val dstCat = new JdbcCatalog(Endpoint(dstUrl))
  private lazy val sink = JdbcSink(Endpoint(dstUrl))

  private def seed(): Unit = {
    DdlReplay.replay(srcCat, Seq(
      "CREATE TABLE dlt (id BIGINT NOT NULL PRIMARY KEY, payload VARCHAR(32), amount DOUBLE)"))
    DdlReplay.replay(dstCat, Seq(
      "CREATE TABLE dlt (id BIGINT NOT NULL PRIMARY KEY, payload VARCHAR(32), amount DOUBLE)"))
    JdbcSink(Endpoint(srcUrl)).append(
      (1L to 200L).map(i => (i, s"row_$i", i * 1.5)).toDF("id", "payload", "amount"),
      "dlt")
  }

  test("Slices.ranges folds adjacent changed slices into maximal ranges") {
    val slices = new Slices(SliceKey.Lead("id"), Seq(10L, 20L, 30L, 40L)) // 5 slices
    def ranges(changed: Seq[Int]) = slices.ranges(changed).map(r => (r.lo, r.hi))
    assert(ranges(Seq.empty) == Seq.empty)
    assert(ranges(Seq(0)) == Seq((None, Some(10L))))
    assert(ranges(Seq(4)) == Seq((Some(40L), None)))
    assert(ranges(Seq(1, 2)) == Seq((Some(10L), Some(30L))))
    assert(ranges(Seq(0, 2, 3)) ==
      Seq((None, Some(10L)), (Some(20L), Some(40L))))
  }

  test("in-place updates are detected and only the changed slices move") {
    seed()
    // initial replica
    val first = DeltaSync.syncDelta(spark, srcCat, sink, "dlt", numSlices = 10)
    assert(first.ok, first.toString)
    // converged: nothing to do
    val idle = DeltaSync.syncDelta(spark, srcCat, sink, "dlt", numSlices = 10)
    assert(idle.ok && idle.changedSlices == 0 && idle.rowsCopied == 0, idle.toString)

    // UPDATE a tight key region at the source — the case the watermark
    // path structurally misses
    srcCat.execute("UPDATE dlt SET payload = 'edited', amount = -1.0 WHERE id >= 41 AND id <= 44")
    val repair = DeltaSync.syncDelta(spark, srcCat, sink, "dlt", numSlices = 10)
    assert(repair.ok, repair.toString)
    assert(repair.changedSlices >= 1 && repair.changedSlices <= 2,
      s"a 4-row edit must not dirty more than its slice(s): $repair")
    assert(repair.rowsCopied < 60, s"repair copied too much: $repair")
    assert(Compare.contentEqual(
      srcCat.read(spark, "dlt"), sink.readBack(spark, "dlt")))

    // target-side corruption (a failed partial write) repairs the same way
    dstCat.execute("UPDATE dlt SET payload = 'corrupt' WHERE id = 150")
    val heal = DeltaSync.syncDelta(spark, srcCat, sink, "dlt", numSlices = 10)
    assert(heal.ok && heal.changedSlices >= 1, heal.toString)
    assert(Compare.contentEqual(
      srcCat.read(spark, "dlt"), sink.readBack(spark, "dlt")))
  }

  test("a mostly-diverged target falls back to one full load") {
    srcCat.execute("UPDATE dlt SET payload = 'bulk'")
    val r = DeltaSync.syncDelta(spark, srcCat, sink, "dlt", numSlices = 10)
    assert(r.ok && r.changedSlices == 1 && r.slices == 1,
      s"full-reload fallback expected: $r")
    assert(Compare.contentEqual(
      srcCat.read(spark, "dlt"), sink.readBack(spark, "dlt")))
  }

  test("numeric-PK delta checksums exactly the pushed read plan's slices") {
    // 300 rows >= 2·numSlices with a sparse tail: the pushed histogram
    // plan slices the table, and the checksum walk diffs exactly its cuts
    DdlReplay.replay(srcCat, Seq("CREATE TABLE plan_t (id BIGINT NOT NULL PRIMARY KEY, v INT)"))
    val keys = (1L to 250L) ++ (1L to 50L).map(k => 100000L + 1000L * k)
    JdbcSink(Endpoint(srcUrl)).append(
      keys.map(k => (k, (k % 7).toInt)).toDF("id", "v"), "plan_t")
    assert(DeltaSync.syncDelta(spark, srcCat, sink, "plan_t", numSlices = 12).ok)
    val idle = DeltaSync.syncDelta(spark, srcCat, sink, "plan_t", numSlices = 12)
    assert(idle.ok && idle.changedSlices == 0, idle.toString)
    // the sync read with ceil(300/25) = 12 slices plans the same cuts
    val read = srcCat.readPartitioned(spark, "plan_t", 25, PartitionedReader.MaxSlices)
    assert(idle.slices == read.rdd.getNumPartitions)
    assert(idle.slices == 12, idle.toString) // 11 pushed cuts
  }

  test("delta repair diffs its own slice count and reads at the sync's parallelism") {
    // plan_t: the 300 rows seeded above; ceil(300/100) = 3 read tasks
    val (read, Some(slices)) = srcCat.readSliced(spark, "plan_t", 12, pageSize = 100)
    assert(slices.count == 12)
    assert(read.rdd.getNumPartitions == 3)
    assert(read.count() == 300)
  }

  test("a table under 2·numSlices rows repairs through the quantile fallback") {
    Seq(srcCat, dstCat).foreach(c => DdlReplay.replay(c, Seq(
      "CREATE TABLE small_t (id BIGINT NOT NULL PRIMARY KEY, payload VARCHAR(16))")))
    JdbcSink(Endpoint(srcUrl)).append(
      (1L to 15L).map(i => (i, s"row_$i")).toDF("id", "payload"), "small_t")
    assert(DeltaSync.syncDelta(spark, srcCat, sink, "small_t", numSlices = 10).ok)
    srcCat.execute("UPDATE small_t SET payload = 'edited' WHERE id = 9")
    val repair = DeltaSync.syncDelta(spark, srcCat, sink, "small_t", numSlices = 10)
    assert(repair == DeltaSync.DeltaReport("small_t", 10, 1, 2L, ok = true), repair.toString)
    assert(Compare.contentEqual(
      srcCat.read(spark, "small_t"), sink.readBack(spark, "small_t")))
  }

  test("string-PK tables repair one dirty hash slice without full reload") {
    DdlReplay.replay(srcCat, Seq(
      "CREATE TABLE sdlt (sku VARCHAR(24) NOT NULL PRIMARY KEY, payload VARCHAR(32))"))
    DdlReplay.replay(dstCat, Seq(
      "CREATE TABLE sdlt (sku VARCHAR(24) NOT NULL PRIMARY KEY, payload VARCHAR(32))"))
    JdbcSink(Endpoint(srcUrl)).append(
      (1 to 200).map(i => (s"sku_$i", s"row_$i")).toDF("sku", "payload"), "sdlt")

    val first = DeltaSync.syncDelta(spark, srcCat, sink, "sdlt", numSlices = 10)
    assert(first.ok, first.toString)
    val idle = DeltaSync.syncDelta(spark, srcCat, sink, "sdlt", numSlices = 10)
    assert(idle.ok && idle.slices == 10 && idle.changedSlices == 0 && idle.rowsCopied == 0,
      s"hash-sliced convergence expected, got $idle")

    // one edited row dirties exactly one md5 slice
    srcCat.execute("UPDATE sdlt SET payload = 'edited' WHERE sku = 'sku_42'")
    val repair = DeltaSync.syncDelta(spark, srcCat, sink, "sdlt", numSlices = 10)
    assert(repair.ok && repair.slices == 10 && repair.changedSlices == 1,
      s"one dirty hash slice expected: $repair")
    assert(repair.rowsCopied < 60, s"repair copied too much: $repair")
    assert(Compare.contentEqual(
      srcCat.read(spark, "sdlt"), sink.readBack(spark, "sdlt")))

    // a source-side DELETE must also repair (the doomed target row is
    // found from the dirty range read-back, not from the source)
    srcCat.execute("DELETE FROM sdlt WHERE sku = 'sku_77'")
    val heal = DeltaSync.syncDelta(spark, srcCat, sink, "sdlt", numSlices = 10)
    assert(heal.ok && heal.changedSlices >= 1, heal.toString)
    assert(Compare.contentEqual(
      srcCat.read(spark, "sdlt"), sink.readBack(spark, "sdlt")))
  }

  test("composite-PK tables hash the full key tuple") {
    DdlReplay.replay(srcCat, Seq(
      "CREATE TABLE cdlt (region VARCHAR(8) NOT NULL, seq INT NOT NULL, v DOUBLE, PRIMARY KEY (region, seq))"))
    DdlReplay.replay(dstCat, Seq(
      "CREATE TABLE cdlt (region VARCHAR(8) NOT NULL, seq INT NOT NULL, v DOUBLE, PRIMARY KEY (region, seq))"))
    JdbcSink(Endpoint(srcUrl)).append(
      (for (r <- Seq("eu", "us", "ap"); i <- 1 to 50) yield (r, i, i * 0.5))
        .toDF("region", "seq", "v"), "cdlt")

    val first = DeltaSync.syncDelta(spark, srcCat, sink, "cdlt", numSlices = 8)
    assert(first.ok, first.toString)
    srcCat.execute("UPDATE cdlt SET v = -9.0 WHERE region = 'us' AND seq = 17")
    val repair = DeltaSync.syncDelta(spark, srcCat, sink, "cdlt", numSlices = 8)
    assert(repair.ok && repair.slices == 8 && repair.changedSlices == 1,
      s"one dirty hash slice expected: $repair")
    assert(Compare.contentEqual(
      srcCat.read(spark, "cdlt"), sink.readBack(spark, "cdlt")))
  }

  test("a string-PK repair leaves a destination table named <t>_doomed alone") {
    Seq(srcCat, dstCat).foreach(c => DdlReplay.replay(c, Seq(
      "CREATE TABLE kdel (sku VARCHAR(24) NOT NULL PRIMARY KEY, payload VARCHAR(32))")))
    DdlReplay.replay(dstCat, Seq("CREATE TABLE kdel_doomed (note VARCHAR(16))"))
    dstCat.execute("INSERT INTO kdel_doomed VALUES ('keep me'), ('and me')")
    JdbcSink(Endpoint(srcUrl)).append(
      (1 to 300).map(i => (s"sku_$i", s"row_$i")).toDF("sku", "payload"), "kdel")
    assert(DeltaSync.syncDelta(spark, srcCat, sink, "kdel", numSlices = 10).ok)
    srcCat.execute("UPDATE kdel SET payload = 'edited' WHERE sku IN ('sku_7', 'sku_250')")
    srcCat.execute("DELETE FROM kdel WHERE sku = 'sku_42'")
    val repair = DeltaSync.syncDelta(spark, srcCat, sink, "kdel", numSlices = 10)
    assert(repair.ok && repair.changedSlices >= 1 && repair.changedSlices <= 3, repair.toString)
    assert(Compare.contentEqual(
      srcCat.read(spark, "kdel"), sink.readBack(spark, "kdel")))
    val kept = dstCat.read(spark, "kdel_doomed").as[String].collect().toSet
    assert(kept == Set("keep me", "and me"), s"user table kdel_doomed clobbered: $kept")
  }

  test("a value swapped between two rows of one slice is repaired") {
    // 2,000 rows cut 64 ways: ids 1 and 2 share a slice, so per-column
    // sums could not see the swap
    Seq(srcCat, dstCat).foreach(c => DdlReplay.replay(c, Seq(
      "CREATE TABLE swap_t (id BIGINT NOT NULL PRIMARY KEY, p DOUBLE)")))
    JdbcSink(Endpoint(srcUrl)).append(
      (1L to 2000L).map(i => (i, i * 10.0)).toDF("id", "p"), "swap_t")
    assert(DeltaSync.syncDelta(spark, srcCat, sink, "swap_t").ok)
    dstCat.execute("UPDATE swap_t SET p = 20.0 WHERE id = 1")
    dstCat.execute("UPDATE swap_t SET p = 10.0 WHERE id = 2")
    val repair = DeltaSync.syncDelta(spark, srcCat, sink, "swap_t")
    assert(repair.ok && repair.slices == 64 && repair.changedSlices == 1, repair.toString)
    assert(Compare.contentEqual(
      srcCat.read(spark, "swap_t"), sink.readBack(spark, "swap_t")))
  }

  test("a table without a PK copies nothing when equal and reloads when a row changed") {
    Seq(srcCat, dstCat).foreach(c => DdlReplay.replay(c, Seq(
      "CREATE TABLE nopk_d (k INT, v VARCHAR(16))")))
    JdbcSink(Endpoint(srcUrl)).append(
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v"), "nopk_d")
    assert(DeltaSync.syncDelta(spark, srcCat, sink, "nopk_d").ok)
    assert(DeltaSync.syncDelta(spark, srcCat, sink, "nopk_d") ==
      DeltaSync.DeltaReport("nopk_d", 1, 0, 0L, ok = true))
    srcCat.execute("UPDATE nopk_d SET v = 'edited' WHERE k = 40")
    assert(DeltaSync.syncDelta(spark, srcCat, sink, "nopk_d") ==
      DeltaSync.DeltaReport("nopk_d", 1, 1, 100L, ok = true))
    assert(Compare.contentEqual(
      srcCat.read(spark, "nopk_d"), sink.readBack(spark, "nopk_d")))
  }

  /** Fills the source's table `t` (id, v) with 400 rows, row i keyed
    * `id(i)` (as SQL) with v = `v<i>`, syncs it, and returns one row
    * number per slice of the 10 slices delta repair diffs `t` on. */
  private def seedRanged(t: String, key: SliceKey, id: Int => String): Seq[Int] = {
    srcCat.execute(s"INSERT INTO $t VALUES " +
      (1 to 400).map(i => s"(${id(i)}, 'v$i')").mkString(", "))
    assert(DeltaSync.syncDelta(spark, srcCat, sink, t, numSlices = 10).ok)
    val slices = key match {
      case SliceKey.Lead(pk) =>
        PartitionedReader.plan(Endpoint(srcUrl), t, pk)(_ => 10)._2.get
      case _ => new Slices(key, HashKey.cuts(10))
    }
    val rowOf = srcCat.read(spark, t).toDF("id", "v")
      .select(col("v"), slices.id(key.column)).collect()
      .map(r => r.getInt(1) -> r.getString(0).stripPrefix("v").toInt).toMap
    assert(slices.count == 10 && rowOf.size == 10)
    (0 until 10).map(rowOf)
  }

  test("a repair's Spark jobs do not grow with its number of ranges") {
    Seq(
      ("rng_num", "BIGINT", SliceKey.Lead("id"), (i: Int) => i.toString),
      ("rng_str", "VARCHAR(16)", SliceKey.Hashed(Seq("id")), (i: Int) => s"'k$i'")
    ).foreach { case (t, keyDdl, key, id) =>
      Seq(srcCat, dstCat).foreach(c => DdlReplay.replay(c, Seq(
        s"CREATE TABLE $t (id $keyDdl NOT NULL PRIMARY KEY, v VARCHAR(16))")))
      val rowIn = seedRanged(t, key, id)
      def repair(slices: Int*): Int = {
        slices.foreach(i => srcCat.execute(s"UPDATE $t SET v = 'edited' WHERE id = ${id(rowIn(i))}"))
        val (r, jobs) = SparkJobs.inGroup(spark, s"graft-delta-$t")(
          DeltaSync.syncDelta(spark, srcCat, sink, t, numSlices = 10))
        assert(r.ok && r.slices == 10 && r.changedSlices == slices.size, r.toString)
        assert(Compare.contentEqual(srcCat.read(spark, t), sink.readBack(spark, t)), t)
        jobs
      }
      val one = repair(1)
      val three = repair(3, 5, 7)
      assert(one == three, s"$t: $one Spark jobs for 1 range, $three for 3")
    }
  }

  test("an append that fails after the DELETE is loud, and the next repair heals") {
    // the destination's v is narrower than the source's: one over-long
    // value fails the single append after every changed range is gone
    DdlReplay.replay(srcCat, Seq("CREATE TABLE narrow_t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(32))"))
    DdlReplay.replay(dstCat, Seq("CREATE TABLE narrow_t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(8))"))
    val keyOf = seedRanged("narrow_t", SliceKey.Lead("id"), _.toString)
    srcCat.execute(s"UPDATE narrow_t SET v = 'edited' WHERE id IN (${keyOf(2)}, ${keyOf(8)})")
    srcCat.execute(s"UPDATE narrow_t SET v = 'far too long for v' WHERE id = ${keyOf(5)}")
    val failed = DeltaSync.syncDelta(spark, srcCat, sink, "narrow_t", numSlices = 10)
    assert(!failed.ok && failed.error.exists(_.nonEmpty), failed.toString)
    srcCat.execute(s"UPDATE narrow_t SET v = 'short' WHERE id = ${keyOf(5)}")
    val healed = DeltaSync.syncDelta(spark, srcCat, sink, "narrow_t", numSlices = 10)
    assert(healed.ok && healed.changedSlices == 3, healed.toString)
    assert(Compare.contentEqual(
      srcCat.read(spark, "narrow_t"), sink.readBack(spark, "narrow_t")))
  }

  test("several repair ranges render as one OR-joined DELETE") {
    val hash = "(CAST(CONV(SUBSTRING(MD5(CONCAT_WS('|', k)), 1, 15), 16, 10) AS UNSIGNED))"
    val hashed = Seq(
      Slices.Range(SliceKey.Hashed(Seq("k")), None, Some(5L)),
      Slices.Range(SliceKey.Hashed(Seq("k")), Some(9L), Some(12L)))
    assert(DeltaRepairSql.rangeDelete("jdbc:mysql://db:3306/app", "t", hashed: _*) == Some(
      s"DELETE FROM t WHERE ($hash < 5 OR $hash IS NULL) OR ($hash >= 9 AND $hash < 12)"))
    assert(DeltaRepairSql.rangeDelete("jdbc:derby:memory:x", "t", hashed: _*).isEmpty)
    assert(DeltaRepairSql.rangeDelete("jdbc:derby:memory:x", "t",
      Slices.Range(SliceKey.Lead("id"), Some(1L), Some(9L)),
      Slices.Range(SliceKey.Lead("id"), Some(20L), None)) ==
      Some("DELETE FROM t WHERE (id >= 1 AND id < 9) OR (id >= 20)"))
  }

  test("repair DELETE rendering is pinned for both dialect branches") {
    // the MySQL branch can't run here (no MySQL server, zero egress) —
    // pin its exact statement so the server-side md5 rendition is
    // decidable; the generic statements are SQL-standard shapes the
    // live Derby specs execute (valid on H2/PostgreSQL too)
    val mysql = "jdbc:mysql://db:3306/app"
    assert(DeltaRepairSql.rangeDelete(mysql,
      "t", Slices.Range(SliceKey.Hashed(Seq("region", "seq")), Some(100L), Some(200L))) == Some(
      "DELETE FROM t WHERE (CAST(CONV(SUBSTRING(MD5(CONCAT_WS('|', region, seq)), " +
        "1, 15), 16, 10) AS UNSIGNED)) >= 100 AND " +
        "(CAST(CONV(SUBSTRING(MD5(CONCAT_WS('|', region, seq)), 1, 15), 16, 10) " +
        "AS UNSIGNED)) < 200"))
    // unbounded-below ranges must sweep NULL hash keys too
    assert(DeltaRepairSql.rangeDelete(mysql, "t", Slices.Range(SliceKey.Hashed(Seq("k")), None, Some(5L)))
      .exists(_.endsWith("< 5 OR (CAST(CONV(SUBSTRING(MD5(CONCAT_WS('|', k)), 1, 15), 16, 10) AS UNSIGNED)) IS NULL")))
    assert(DeltaRepairSql.keyedDelete("t", Seq("region", "seq")) ==
      "DELETE FROM t WHERE region = ? AND seq = ?")
  }

  test("the hash-key repair runs server-side on every MySQL-wire URL, MariaDB included") {
    val key = SliceKey.Hashed(Seq("k"))
    def delete(url: String) =
      DeltaRepairSql.rangeDelete(url, "t", Slices.Range(key, Some(1L), Some(9L)))
    val mariadb = delete("jdbc:mariadb://db:3306/app")
    assert(mariadb.exists(_.startsWith("DELETE FROM t WHERE (CAST(CONV(")), mariadb)
    assert(mariadb == delete("jdbc:mysql://db:3306/app"))
    // no server-side md5: the executor-side keyed delete
    assert(delete("jdbc:derby:memory:x").isEmpty)
    // a numeric key ranges server-side on every dialect
    assert(DeltaRepairSql.rangeDelete("jdbc:derby:memory:x", "t",
      Slices.Range(SliceKey.Lead("id"), Some(1L), Some(9L))) ==
      Some("DELETE FROM t WHERE id >= 1 AND id < 9"))
  }

  test("parquet targets repair by rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_pq").toString
    val psink = ParquetSink(dir)
    val full = DeltaSync.syncDelta(spark, srcCat, psink, "dlt", numSlices = 10)
    assert(full.ok, full.toString) // verified-missing: full load
    srcCat.execute("UPDATE dlt SET amount = 7.25 WHERE id = 13")
    val r = DeltaSync.syncDelta(spark, srcCat, psink, "dlt", numSlices = 10)
    assert(r.ok && r.changedSlices >= 1, r.toString)
    assert(Compare.contentEqual(
      srcCat.read(spark, "dlt"), psink.readBack(spark, "dlt")))
  }

  test("a file rewrite keeps the rows outside every repaired range, NULL keys included") {
    val psink = ParquetSink(java.nio.file.Files.createTempDirectory("graft_delta_nullk").toString)
    val rows = (None +: (1L to 9L).map(Option(_))).map(k => (k, "old"))
    psink.overwrite(rows.toDF("k", "v"), "nk")
    val ranges = Seq(
      Slices.Range(SliceKey.Lead("k"), Some(2L), Some(4L)),
      Slices.Range(SliceKey.Lead("k"), Some(6L), Some(7L)))
    val fresh = rows.toDF("k", "v").withColumn("v", lit("new"))
    psink.replaceRange(spark, fresh.filter(Slices.column(ranges)), "nk", ranges)
    val got = psink.readBack(spark, "nk").as[(Option[Long], String)].collect().toSet
    assert(got == rows.map { case (k, _) =>
      (k, if (k.exists(i => i == 2 || i == 3 || i == 6)) "new" else "old") }.toSet)
  }
}
