package graft.streaming

import graft.SparkSpec
import graft.operators.StagedSwap

/** The sidecar contracts the ingest paths rely on: a legacy meta still
  * folds, a missing meta rebuilds instead of merging, and null keys are
  * new without costing a scan of the persisted keys. */
class BloomSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(keys: Seq[String]): (BloomSidecar, String) = {
    val path = java.nio.file.Files.createTempDirectory("graft_bs").toString + "/ids.bloom"
    val bloom = new BloomSidecar(spark, path)
    bloom.rebuild(keys.toDF("id"))
    (bloom, path)
  }

  private def fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())

  test("a legacy 'items fpp' meta folds without a rebuild") {
    val (_, path) = fresh(Seq("a", "b"))
    StagedSwap.writeSidecar(fs, new org.apache.hadoop.fs.Path(s"$path.meta"), "8 0.01")
    val bloom = new BloomSidecar(spark, path)
    var appended = false
    bloom.commit(Seq("c").toDF("id"), sys.error("a legacy meta must merge, not rebuild")) {
      appended = true
    }
    assert(appended)
    val reread = new BloomSidecar(spark, path).bits.get
    assert(Seq("a", "b", "c").forall(reread.mightContainString))
  }

  test("a missing meta rebuilds from the persisted keys, then appends") {
    val (_, path) = fresh(Seq("a", "b"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$path.meta"), false)
    val bloom = new BloomSidecar(spark, path)
    var rebuilt = false
    bloom.commit(Seq("z").toDF("id"), { rebuilt = true; Seq("a", "b", "y").toDF("id") }) {
      assert(rebuilt, "the append ran before the rebuild")
    }
    val reread = new BloomSidecar(spark, path).bits.get
    assert(Seq("a", "b", "y", "z").forall(reread.mightContainString))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path.meta")), "rebuild wrote no meta")
  }

  test("null keys count as new and never read the persisted keys") {
    val (bloom, _) = fresh(Seq("a", "b"))
    val rows = Seq(Option.empty[String], Some("q")).toDF("id")
    val got = bloom.novel(rows, "id", sys.error("an all-negative batch read the keys"))
    assert(got.count() == 2)
  }
}
