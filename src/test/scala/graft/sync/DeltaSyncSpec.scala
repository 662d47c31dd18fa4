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

  test("mergeRanges folds adjacent changed slices into maximal ranges") {
    val cuts = Seq(10L, 20L, 30L, 40L) // 5 slices
    assert(DeltaSync.mergeRanges(Seq.empty, cuts) == Seq.empty)
    assert(DeltaSync.mergeRanges(Seq(0), cuts) == Seq((None, Some(10L))))
    assert(DeltaSync.mergeRanges(Seq(4), cuts) == Seq((Some(40L), None)))
    assert(DeltaSync.mergeRanges(Seq(1, 2), cuts) == Seq((Some(10L), Some(30L))))
    assert(DeltaSync.mergeRanges(Seq(0, 2, 3), cuts) ==
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
    // plan slices the table, and the checksum walk reuses its cuts 1:1
    DdlReplay.replay(srcCat, Seq("CREATE TABLE plan_t (id BIGINT NOT NULL PRIMARY KEY, v INT)"))
    val keys = (1L to 250L) ++ (1L to 50L).map(k => 100000L + 1000L * k)
    JdbcSink(Endpoint(srcUrl)).append(
      keys.map(k => (k, (k % 7).toInt)).toDF("id", "v"), "plan_t")
    assert(DeltaSync.syncDelta(spark, srcCat, sink, "plan_t", numSlices = 12).ok)
    val idle = DeltaSync.syncDelta(spark, srcCat, sink, "plan_t", numSlices = 12)
    assert(idle.ok && idle.changedSlices == 0, idle.toString)
    // the sync read with ceil(300/25) = 12 slices plans the same cuts
    val read = PartitionedReader.read(spark, Endpoint(srcUrl), "plan_t", pageSize = 25)
    assert(idle.slices == read.rdd.getNumPartitions)
    assert(idle.slices == 12, idle.toString) // 11 pushed cuts
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

  test("repair DELETE rendering is pinned for both dialect branches") {
    // the MySQL branch can't run here (no MySQL server, zero egress) —
    // pin its exact statement so the server-side md5 rendition is
    // decidable; the generic statements are SQL-standard shapes the
    // live Derby specs execute (valid on H2/PostgreSQL too)
    val mysql = "jdbc:mysql://db:3306/app"
    assert(DeltaRepairSql.rangeDelete(mysql,
      "t", SliceKey.Hashed(Seq("region", "seq")), Some(100L), Some(200L)) == Some(
      "DELETE FROM t WHERE (CAST(CONV(SUBSTRING(MD5(CONCAT_WS('|', region, seq)), " +
        "1, 15), 16, 10) AS UNSIGNED)) >= 100 AND " +
        "(CAST(CONV(SUBSTRING(MD5(CONCAT_WS('|', region, seq)), 1, 15), 16, 10) " +
        "AS UNSIGNED)) < 200"))
    // unbounded-below ranges must sweep NULL hash keys too
    assert(DeltaRepairSql.rangeDelete(mysql, "t", SliceKey.Hashed(Seq("k")), None, Some(5L))
      .exists(_.endsWith("< 5 OR (CAST(CONV(SUBSTRING(MD5(CONCAT_WS('|', k)), 1, 15), 16, 10) AS UNSIGNED)) IS NULL")))
    assert(DeltaRepairSql.scratchClone("t", "t_doomed", Seq("region", "seq")) ==
      "CREATE TABLE t_doomed AS SELECT region, seq FROM t WITH NO DATA")
    assert(DeltaRepairSql.scratchKeyedDelete("t", "t_doomed", Seq("region", "seq")) ==
      "DELETE FROM t WHERE EXISTS (SELECT 1 FROM t_doomed d " +
        "WHERE d.region = t.region AND d.seq = t.seq)")
  }

  test("the hash-key repair runs server-side on every MySQL-wire URL, MariaDB included") {
    val key = SliceKey.Hashed(Seq("k"))
    def delete(url: String) = DeltaRepairSql.rangeDelete(url, "t", key, Some(1L), Some(9L))
    val mariadb = delete("jdbc:mariadb://db:3306/app")
    assert(mariadb.exists(_.startsWith("DELETE FROM t WHERE (CAST(CONV(")), mariadb)
    assert(mariadb == delete("jdbc:mysql://db:3306/app"))
    // no server-side md5: the scratch-table keyed delete
    assert(delete("jdbc:derby:memory:x").isEmpty)
    // a numeric key ranges server-side on every dialect
    assert(DeltaRepairSql.rangeDelete("jdbc:derby:memory:x", "t", SliceKey.Lead("id"),
      Some(1L), Some(9L)) == Some("DELETE FROM t WHERE id >= 1 AND id < 9"))
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
}
