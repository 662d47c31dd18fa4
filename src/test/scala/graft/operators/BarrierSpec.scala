package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{BooleanType, LongType}

import graft.SparkSpec
import graft.sync.Compare

class BarrierSpec extends SparkSpec {
  import spark.implicits._

  test("default barrier is a local checkpoint (no checkpoint dir touched)") {
    assert(spark.conf.getOption(Barrier.ConfKey).isEmpty)
    val out = Barrier(Seq(1, 2, 3).toDF("x"))
    assert(out.count() == 3)
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "local barrier must not set a reliable checkpoint dir")
  }

  test("spark.graft.checkpointDir routes the barrier through checkpoint()") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Barrier.ConfKey, dir)
    try {
      val out = Barrier(Seq(1, 2, 3, 4).toDF("x"))
      assert(out.count() == 4)
      val resolved = spark.sparkContext.getCheckpointDir
      assert(resolved.exists(_.contains(dir.stripPrefix("/"))),
        s"checkpoint dir not under $dir: $resolved")
      // reliable checkpoint writes rdd-* block files into the dir
      def rddFiles(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten
          .flatMap(c => if (c.isDirectory) rddFiles(c) else Seq(c))
      assert(rddFiles(new java.io.File(dir)).nonEmpty,
        "no checkpoint files written — barrier did not go through checkpoint()")

      // a second barrier reuses the same base dir (no UUID pile-up)
      val before = spark.sparkContext.getCheckpointDir
      Barrier(Seq(5).toDF("x")).count()
      assert(spark.sparkContext.getCheckpointDir == before)
    } finally {
      spark.conf.unset(Barrier.ConfKey)
    }
  }

  // rdd-* checkpoint dirs currently on disk under `base` (recursive —
  // the resolved dir is base/<app-uuid>/rdd-<id>)
  private def rddDirs(base: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten
        .flatMap(c => if (c.isDirectory) c +: walk(c) else Nil)
    walk(new java.io.File(base))
      .filter(_.getName.startsWith("rdd-")).map(_.getName).toSet
  }

  test("release deletes a superseded checkpoint's files; the live frame still reads") {
    val dir = Files.createTempDirectory("graft_ckpt_rel").toString
    spark.conf.set(Barrier.ConfKey, dir)
    try {
      val a = Barrier(Seq(1, 2).toDF("x"))
      val b = Barrier(a.selectExpr("x + 1 as y"))
      val before = rddDirs(dir)
      assert(before.size == 2, s"expected two checkpoints, got $before")
      Barrier.release(a)
      val after = rddDirs(dir)
      assert(after.size == 1, s"release did not delete a's files: $after")
      // b was materialized from its OWN checkpoint — a's deletion must
      // not reach it
      assert(b.collect().map(_.getInt(0)).toSet == Set(2, 3))
    } finally spark.conf.unset(Barrier.ConfKey)
  }

  test("iterative operators GC superseded checkpoints mid-run (round-18 ENOSPC cause)") {
    // a diameter-10 chain forces ~11 label-propagation rounds; without
    // mid-run GC the checkpointDir mode keeps one full labels copy per
    // round until driver GC happens to reclaim it — at 1000x that
    // filled the scratch disk (SCALE.md round-18, qp09/qp11). With
    // Barrier.release only the LIVE frame's files may remain.
    val dir = Files.createTempDirectory("graft_ckpt_gc").toString
    spark.conf.set(Barrier.ConfKey, dir)
    try {
      implicit val s: org.apache.spark.sql.SparkSession = spark
      val edges = (0L until 10L).map(i => (i, i + 1)).toDF("a", "b")
      val nodes = (0L to 10L).toDF("id")
      val cc = graft.operators.dedup.ConnectedComponents
        .components(edges, "a", "b", nodes, "id")
      // the result is a projection of the final round's checkpoint:
      // exactly one rdd dir may survive the loop
      val afterCc = rddDirs(dir)
      assert(afterCc.size == 1,
        s"CC leaked superseded round checkpoints: $afterCc")
      assert(cc.select("component").distinct().count() == 1)

      val seeds = Seq(0L).toDF("id")
      val reach = graft.operators.GraphExpand
        .expand(seeds, "id", edges, "a", "b", maxHops = 3)
      val afterHops = rddDirs(dir)
      // r19 accounting: expand keeps ONE checkpoint per hop part (the
      // seed frame + one per non-empty hop), each holding only ITS
      // hop's rows — total bytes = |reached| with every row written
      // once, where the pre-r19 shape re-materialized the whole
      // reached set per hop (write amplification O(hops × |reached|))
      // and needed mid-run release to stay bounded. No row is stored
      // twice, so the dir count is the LIVE part count, not a leak:
      // CC's final frame + expand's seed + hops 1..3.
      assert(afterHops.size == 5,
        s"GraphExpand checkpoint accounting changed: $afterHops")
      assert(reach.count() == 4) // 0 + hops 1..3
    } finally spark.conf.unset(Barrier.ConfKey)
  }

  // The layout contract: a barrier surfaces the executed plan's hash
  // partitioning to Catalyst, so keyed consumers plan no exchange, and
  // results equal the un-keyed form. Each check runs in both modes.

  private lazy val grouped = (1 to 20000).map(i => (i.toLong % 997, i.toLong)).toDF("g", "v")

  private def exchanges(df: DataFrame): Int =
    "Exchange (?!SinglePartition)".r.findAllIn(df.queryExecution.executedPlan.toString).size

  private def inBothModes(body: => Unit): Unit = {
    body
    spark.conf.set(Barrier.ConfKey, Files.createTempDirectory("graft_ckpt_layout").toString)
    try body finally spark.conf.unset(Barrier.ConfKey)
  }

  test("a keyed barrier's groupBy on the key plans no exchange and equals the un-keyed form") {
    inBothModes {
      val agg = Barrier.keyed(grouped, "g").groupBy("g").count()
      assert(exchanges(agg) == 0, agg.queryExecution.executedPlan.toString)
      assert(Compare.contentEqual(agg, grouped.groupBy("g").count()))
    }
  }

  test("a keyed barrier's layout satisfies a groupBy on a superset of its key") {
    inBothModes {
      val agg = Barrier.keyed(grouped, "g").groupBy("g", "v").count()
      assert(exchanges(agg) == 0, agg.queryExecution.executedPlan.toString)
    }
  }

  test("two barriers keyed the same way join with no shuffle") {
    inBothModes {
      val sums = grouped.groupBy("g").agg(sum("v").as("s"))
      val j = Barrier.keyed(grouped, "g").join(Barrier.keyed(sums, "g"), Seq("g"))
      val plan = j.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty, plan)
      assert(Compare.contentEqual(j, grouped.join(sums, Seq("g"))))
    }
  }

  test("a plain barrier after a co-partitioned join re-surfaces the join's layout") {
    inBothModes {
      val sums = grouped.groupBy("g").agg(sum("v").as("s"))
      def weights(l: DataFrame, r: DataFrame) =
        l.join(r, Seq("g")).select(col("g"), (col("v") + col("s")).as("w"))
      val agg = Barrier(weights(Barrier.keyed(grouped, "g"), Barrier.keyed(sums, "g")))
        .groupBy("g").count()
      assert(exchanges(agg) == 0, agg.queryExecution.executedPlan.toString)
      assert(Compare.contentEqual(agg, weights(grouped, sums).groupBy("g").count()))
    }
  }

  test("Barrier.keyed refuses an empty key list") {
    intercept[IllegalArgumentException](Barrier.keyed(grouped))
  }

  test("a counting barrier refuses a count column that is not exactly one boolean column") {
    val twoB = Seq((true, false), (true, true)).toDF("b", "b")
    intercept[IllegalArgumentException](Barrier.counting(twoB, Some("b")))
    intercept[IllegalArgumentException](Barrier.counting(grouped, Some("v")))
    assert(Barrier.counting(twoB.toDF("a", "b"), Some("b"))._2 == 1)
  }

  test("the checkpoint refuses physical and logical outputs of unequal arity") {
    val a = AttributeReference("a", LongType)()
    val b = AttributeReference("b", BooleanType)()
    assert(PlanBridge.positional(Seq(a, b), Seq(a, b)).size == 2)
    intercept[IllegalArgumentException](PlanBridge.positional(Seq(a, b), Seq(a)))
  }
}
