package graft.sync

import graft.SparkSpec
import graft.catalog.{FileCatalog, JdbcCatalog}
import graft.config.Endpoint

/** The destination is read through its sink's catalog, the same read
  * side the source has: counts are loud or right, MAX probes on JDBC run
  * on the database, and delta repair's slice key is decided once. */
class ReadSideSpec extends SparkSpec {
  import spark.implicits._

  private val srcUrl = "jdbc:derby:memory:readsidesrc;create=true"
  private val dstUrl = "jdbc:derby:memory:readsidedst;create=true"
  private lazy val srcCat = new JdbcCatalog(Endpoint(srcUrl))
  private lazy val dstCat = new JdbcCatalog(Endpoint(dstUrl))
  private lazy val sink = JdbcSink(Endpoint(dstUrl))

  test("a destination that exists but cannot be counted compares YES, -1, NO") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_readside_src").toString
    val dstDir = java.nio.file.Files.createTempDirectory("graft_readside_dst").toString
    val rows = (1L to 30L).map(i => (i, s"r$i")).toDF("id", "v")
    Seq("good_t", "junk_t", "gone_t").foreach(FileSink(srcDir).overwrite(rows, _))
    Seq("good_t", "junk_t").foreach(FileSink(dstDir).overwrite(rows, _))
    // the table's directory stays; its data files become junk bytes
    val junkDir = new java.io.File(s"$dstDir/junk_t.parquet")
    junkDir.listFiles().foreach { f =>
      if (f.getName.endsWith(".crc")) f.delete()
      else if (f.getName.startsWith("part-"))
        java.nio.file.Files.write(f.toPath, "not a parquet file".getBytes("UTF-8"))
    }
    val psink = FileSink(dstDir)
    assert(psink.catalog.tableExists("junk_t"))
    assert(psink.rowCount(spark, "gone_t").isEmpty)
    assert(scala.util.Try(psink.rowCount(spark, "junk_t")).isFailure,
      "an uncountable table that exists must not read as missing")

    val tables = Seq("good_t", "junk_t", "gone_t")
    val expected = Seq(
      Compare.CompareRow("good_t", 30, 30, "YES", "YES"),
      Compare.CompareRow("junk_t", 30, -1, "YES", "NO"),
      Compare.CompareRow("gone_t", 30, -1, "NO", "NO"))
    val src = new FileCatalog(srcDir)
    assert(Compare.countCompare(spark, src, psink, tables) == expected)
    assert(Compare.contentCompare(spark, src, psink, tables) == expected)
  }

  test("JDBC MAX probes and freshness run on the database with no Spark job") {
    Seq(srcCat, dstCat).foreach(c => DdlReplay.replay(c, Seq(
      "CREATE TABLE fr_id (id BIGINT NOT NULL PRIMARY KEY, ts TIMESTAMP)",
      "CREATE TABLE fr_ts (id BIGINT NOT NULL PRIMARY KEY, ts TIMESTAMP)")))
    val rows = (1L to 50L).map(i =>
      (i, java.sql.Timestamp.valueOf(f"2024-03-01 10:${i % 60}%02d:${i % 7}%02d.25")))
      .toDF("id", "ts")
    Seq("fr_id", "fr_ts").foreach { t =>
      JdbcSink(Endpoint(srcUrl)).append(rows, t)
      assert(Sync.syncTable(spark, srcCat, sink, t).ok)
    }
    val watermarks = Map("fr_id" -> "id", "fr_ts" -> "ts")

    val ((max, fresh), jobs) = SparkJobs.inGroup(spark, "max-probe") {
      Jobs.tagged(spark, "max-probe") {
        (sink.catalog.maxValue(spark, "fr_id", "id"),
          Compare.freshness(spark, srcCat, sink, watermarks))
      }
    }
    assert(max.contains(50L))
    assert(jobs == 0, s"$jobs Spark job(s) for MAX probes")
    assert(fresh.map(f => (f.table, f.srcMax, f.destMax, f.inSync)) == Seq(
      ("fr_id", "50", "50", true),
      ("fr_ts", "2024-03-01 10:50:01.25", "2024-03-01 10:50:01.25", true)))

    // the destination loses its newest row: the replica lags
    dstCat.execute("DELETE FROM fr_id WHERE id = 50")
    dstCat.execute("DELETE FROM fr_ts WHERE id = 50")
    val lag = Compare.freshness(spark, srcCat, sink, watermarks)
    assert(lag.map(f => (f.table, f.destMax, f.inSync)) == Seq(
      ("fr_id", "49", false), ("fr_ts", "2024-03-01 10:49:00.25", false)))
  }

  test("a numeric lead PK on a file catalog slices on the key itself") {
    val (read, slices) = new FileCatalog(sf0001).readSliced(spark, "orders", 8, 100000L)
    assert(slices.map(_.key).contains(SliceKey.Lead("o_orderkey")))
    assert(slices.get.count > 1)
    assert(read.columns.contains("o_orderkey"))
  }

  test("a VARCHAR PK on JDBC slices on the hash key") {
    DdlReplay.replay(srcCat, Seq(
      "CREATE TABLE hk_t (sku VARCHAR(16) NOT NULL PRIMARY KEY, v INT)"))
    JdbcSink(Endpoint(srcUrl)).append(
      (1 to 40).map(i => (s"s$i", i)).toDF("sku", "v"), "hk_t")
    val (read, slices) = srcCat.readSliced(spark, "hk_t", 10, 100000L)
    assert(slices.map(_.key).contains(SliceKey.Hashed(Seq("sku"))))
    assert(slices.get.count == 10)
    assert(read.count() == 40)
  }
}
