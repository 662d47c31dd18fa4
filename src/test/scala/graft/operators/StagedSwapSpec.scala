package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The crash-safe directory swap in isolation — including adoption of
  * the PRE-EXTRACTION legacy suffix convention (`__old`/`__compact`):
  * an index compacted and interrupted by an older build must restore
  * under the current code, and stale legacy leftovers must not sit
  * beside the index forever (r11 advice). */
class StagedSwapSpec extends SparkSpec {

  private def fsFor(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def mkDir(root: String, name: String, marker: String): Path = {
    val p = new Path(s"$root/$name")
    val fs = fsFor(p)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, marker))
    out.write(marker.getBytes("UTF-8")); out.close()
    p
  }

  test("restore adopts the current _old naming") {
    val root = Files.createTempDirectory("graft_swap").toString
    val live = new Path(s"$root/hashes")
    val fs = fsFor(live)
    mkDir(root, "hashes_old", "data-old")
    assert(StagedSwap.restoreIfInterrupted(fs, live))
    assert(fs.exists(new Path(live, "data-old")))
    assert(!fs.exists(new Path(s"$root/hashes_old")))
    // idempotent once live exists
    assert(!StagedSwap.restoreIfInterrupted(fs, live))
  }

  test("restore adopts the legacy __old naming and clears __compact") {
    val root = Files.createTempDirectory("graft_swap").toString
    val live = new Path(s"$root/hashes")
    val fs = fsFor(live)
    mkDir(root, "hashes__old", "data-legacy")
    mkDir(root, "hashes__compact", "half-written")
    assert(StagedSwap.restoreIfInterrupted(fs, live))
    assert(fs.exists(new Path(live, "data-legacy")))
    assert(!fs.exists(new Path(s"$root/hashes__old")))
    assert(!fs.exists(new Path(s"$root/hashes__compact")))
  }

  test("current _old wins over legacy __old when both exist") {
    val root = Files.createTempDirectory("graft_swap").toString
    val live = new Path(s"$root/hashes")
    val fs = fsFor(live)
    mkDir(root, "hashes_old", "data-current")
    mkDir(root, "hashes__old", "data-legacy")
    assert(StagedSwap.restoreIfInterrupted(fs, live))
    assert(fs.exists(new Path(live, "data-current")))
  }

  test("a live dir suppresses legacy adoption") {
    val root = Files.createTempDirectory("graft_swap").toString
    val live = mkDir(root, "hashes", "data-live")
    val fs = fsFor(live)
    mkDir(root, "hashes__old", "data-legacy")
    assert(!StagedSwap.restoreIfInterrupted(fs, live))
    assert(fs.exists(new Path(live, "data-live")))
  }

  test("swapIn sweeps stale legacy leftovers") {
    val root = Files.createTempDirectory("graft_swap").toString
    val live = mkDir(root, "hashes", "data-live")
    val fs = fsFor(live)
    mkDir(root, "hashes__old", "stale")
    mkDir(root, "hashes__compact", "stale")
    val tmp = mkDir(root, "hashes_staging", "data-new")
    StagedSwap.swapIn(fs, live, tmp)
    assert(fs.exists(new Path(live, "data-new")))
    assert(!fs.exists(new Path(s"$root/hashes__old")))
    assert(!fs.exists(new Path(s"$root/hashes__compact")))
    assert(!fs.exists(new Path(s"$root/hashes_old")))
  }

  test("exists adopts an interrupted swap, then reports the artifact") {
    val root = Files.createTempDirectory("graft_swap").toString
    assert(!StagedSwap.exists(spark, s"$root/hashes"))
    mkDir(root, "hashes_old", "data-old")
    assert(StagedSwap.exists(spark, s"$root/hashes"))
    val fs = fsFor(new Path(root))
    assert(fs.exists(new Path(s"$root/hashes/data-old")))
    assert(!fs.exists(new Path(s"$root/hashes_old")))
  }

  test("rewrite adopts first, stages the write beside live, then swaps it in") {
    val root = Files.createTempDirectory("graft_swap").toString
    mkDir(root, "hashes_old", "data-old")
    val fs = fsFor(new Path(root))
    StagedSwap.rewrite(spark, s"$root/hashes") { staging =>
      // the adopted live dir is in place while the staging dir fills
      assert(fs.exists(new Path(s"$root/hashes/data-old")))
      assert(new Path(staging).getName == "hashes_staging")
      mkDir(root, "hashes_staging", "data-new")
    }
    assert(fs.exists(new Path(s"$root/hashes/data-new")))
    assert(!fs.exists(new Path(s"$root/hashes/data-old")))
    Seq("hashes_old", "hashes_staging").foreach(n =>
      assert(!fs.exists(new Path(s"$root/$n")), s"$n left behind"))
  }

  test("delete removes live, staging, _old and the legacy names") {
    val root = Files.createTempDirectory("graft_swap").toString
    val names = Seq("hashes", "hashes_staging", "hashes_old", "hashes__old", "hashes__compact")
    names.foreach(mkDir(root, _, "x"))
    mkDir(root, "hashes_lock", "other artifact")
    StagedSwap.delete(spark, s"$root/hashes")
    val fs = fsFor(new Path(root))
    names.foreach(n => assert(!fs.exists(new Path(s"$root/$n")), s"$n survived"))
    assert(fs.exists(new Path(s"$root/hashes_lock")))
    assert(!StagedSwap.exists(spark, s"$root/hashes"))
  }

  test("dataFiles counts data files and bytes recursively, skipping hidden markers") {
    val root = Files.createTempDirectory("graft_swap").toString
    val fs = fsFor(new Path(root))
    def put(rel: String, bytes: Int): Unit = {
      val out = fs.create(new Path(s"$root/t/$rel"))
      out.write(new Array[Byte](bytes)); out.close()
    }
    put("cell=1/part-0.parquet", 3)
    put("cell=2/part-1.parquet", 5)
    put("_SUCCESS", 0)
    put("cell=2/.part-1.parquet.tmp", 7)
    put("_metadata", 11)
    assert(StagedSwap.dataFiles(spark, s"$root/t") == (2L, 8L))
  }
}
