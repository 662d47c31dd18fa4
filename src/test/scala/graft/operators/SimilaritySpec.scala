package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.similarity.{IvfIndex, SimilaritySearch, VectorOps}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sf0001, "embeddings").cache()
  private lazy val probe: Seq[Float] =
    emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)

  /** Exact reference ranking computed driver-side. */
  private lazy val exactTop: Seq[(Long, Double)] = {
    val all = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    all.map { case (id, v) => (id, cos(v, probe)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(20)
      .toSeq
  }

  test("brute force top-10 matches the driver-side exact ranking") {
    val got = SimilaritySearch
      .bruteForceTopK(emb, col("embedding"), col("vec_id"), probe, 10)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == exactTop.take(10).map(_._1))
    got.zip(exactTop).foreach { case ((_, c1), (_, c2)) =>
      assert(math.abs(c1 - c2) < 1e-9)
    }
  }

  test("ann top-10 recalls most of the exact top-10") {
    val got = SimilaritySearch
      .annTopK(emb, col("embedding"), col("vec_id"), probe, 10,
        dim = 64, nbits = 4, numTables = 4)
      .select("id").as[Long].collect().toSet
    val recall = exactTop.take(10).map(_._1).count(got.contains) / 10.0
    assert(got.contains(0L), "probe itself must always be found (identical buckets)")
    assert(recall >= 0.3, s"ANN recall $recall too low; got=$got")
  }

  test("ivf top-10 recalls most of the exact top-10 with 3/8 cells probed") {
    val index = IvfIndex.fit(emb, col("embedding"), col("vec_id"), numCells = 8)
    val got = index
      .topK(emb, col("embedding"), col("vec_id"), probe, 10, nprobe = 3)
      .select("id").as[Long].collect().toSet
    assert(got.contains(0L), "probe's own cell is always the nearest cell")
    val recall = exactTop.take(10).map(_._1).count(got.contains) / 10.0
    assert(recall >= 0.3, s"IVF recall $recall too low; got=$got")
  }

  test("ivf fit is invariant under input partition count and row order") {
    val base = IvfIndex.fit(emb, col("embedding"), col("vec_id"), numCells = 8)
    // same rows, different physical layout: re-sharded and re-ordered —
    // a limit()-based sample would see different "first" rows here
    val shuffled = emb.repartition(7, col("vec_id")).sortWithinPartitions(col("vec_id").desc)
    val again = IvfIndex.fit(shuffled, col("embedding"), col("vec_id"), numCells = 8)
    assert(base.centroids.length == again.centroids.length)
    base.centroids.zip(again.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b), "centroids changed under partition reordering")
    }
  }

  test("ivf cell assignment partitions the corpus completely") {
    val index = IvfIndex.fit(emb, col("embedding"), col("vec_id"), numCells = 8)
    val cells = emb.select(index.cell(col("embedding")).as("c"))
    assert(cells.filter(col("c").isNull).count() == 0)
    assert(cells.count() == emb.count())
    assert(cells.distinct().count() > 1, "kmeans must produce multiple cells")
  }

  test("written IVF index: probes prune at the partition level, same results") {
    val index = IvfIndex.fit(emb, col("embedding"), col("vec_id"), numCells = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    index.writeIndex(emb, col("embedding"), col("vec_id"), dir)
    val indexed = index.topKIndexed(spark, dir, probe, 10, nprobe = 3)
    val direct = index.topK(emb, col("embedding"), col("vec_id"), probe, 10, nprobe = 3)
    assert(
      indexed.select("id").as[Long].collect().toSeq ==
        direct.select("id").as[Long].collect().toSeq,
      "indexed and direct IVF rankings differ")
    // the cell filter must reach the scan as a partition filter, so
    // un-probed cells' files are never opened
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"cell filter did not become a partition filter:\n$plan")
    val pruned = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pruned.contains("isin") || pruned.contains("IN") || pruned.contains("in("),
      s"expected isin partition filter, got: $pruned")
  }

  test("IVF x PQ index: partition-pruned ADC scan equals the in-memory path") {
    import graft.operators.similarity.IvfPq
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    IvfPq.writeIndex(emb, col("embedding"), col("vec_id"), dir)
    val indexed = IvfPq.topKIndexed(spark, dir, probe, 10, nprobe = 3)
    val direct = IvfPq.adcTopK(
      IvfPq.encode(emb, col("embedding"), col("vec_id")), probe, 10, nprobe = 3)
    assert(
      indexed.as[(Long, Double)].collect().toSeq ==
        direct.as[(Long, Double)].collect().toSeq,
      "persisted and in-memory IVFxPQ rankings differ")
    // the probed-cell restriction must prune FILES, not rows: cell is
    // a partition column, so non-probed cells' parquet is never opened
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"cell restriction did not become a partition filter:\n$plan")
    // and the probe's own cell must rank it: self must appear
    assert(indexed.select("vec_id").as[Long].collect().contains(0L),
      "probe vector missing from its own probed-cell scan")
  }

  test("IVF x PQ append: appended index equals full rebuild, base files untouched") {
    import graft.operators.similarity.IvfPq
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_a").toString
    IvfPq.writeIndex(
      emb.filter(col("vec_id") % 2 === 0), col("embedding"), col("vec_id"), dir)
    import scala.jdk.CollectionConverters._
    def parquetFiles() = java.nio.file.Files
      .walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => (p, java.nio.file.Files.getLastModifiedTime(p)))
      .toSeq
    val baseFiles = parquetFiles()
    assert(baseFiles.nonEmpty)
    IvfPq.appendIndex(
      emb.filter(col("vec_id") % 2 === 1), col("embedding"), col("vec_id"), dir)
    // base files still present and unmodified (append never rewrites)
    baseFiles.foreach { case (p, mtime) =>
      assert(java.nio.file.Files.exists(p), s"append rewrote base file $p")
      assert(java.nio.file.Files.getLastModifiedTime(p) == mtime,
        s"append modified base file $p")
    }
    // frozen codebooks: append-then-probe == rebuild-then-probe
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_ivfpq_r").toString
    IvfPq.writeIndex(emb, col("embedding"), col("vec_id"), rebuilt)
    val appended = IvfPq.topKIndexed(spark, dir, probe, 10, nprobe = 3)
    val full = IvfPq.topKIndexed(spark, rebuilt, probe, 10, nprobe = 3)
    assert(
      appended.as[(Long, Double)].collect().toSeq ==
        full.as[(Long, Double)].collect().toSeq,
      "appended index diverges from full rebuild")
    // file-level pruning survives the append
    val plan = appended.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"appended index lost partition pruning:\n$plan")
  }

  test("compact collapses append-accumulated files; content and pruning survive") {
    import graft.operators.similarity.IvfPq
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_c").toString
    // 5 appends: every cell accumulates one file per append
    (0 until 5).foreach { i =>
      IvfPq.appendIndex(emb.filter(col("vec_id") % 5 === i),
        col("embedding"), col("vec_id"), dir)
    }
    val beforeTopK = IvfPq.topKIndexed(spark, dir, probe, 10, nprobe = 3)
      .as[(Long, Double)].collect().toSeq
    val (nb, na) = IvfPq.compactIndex(spark, dir)
    assert(na < nb, s"compact did not reduce files: $nb -> $na")
    val afterTopK = IvfPq.topKIndexed(spark, dir, probe, 10, nprobe = 3)
      .as[(Long, Double)].collect().toSeq
    assert(afterTopK === beforeTopK, "compact changed the index content")
    val plan = IvfPq.topKIndexed(spark, dir, probe, 10, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"compact lost partition pruning:\n$plan")
  }

  test("compacting an index whose every cell is one file submits no job and keeps its files") {
    import graft.operators.similarity.IvfPq
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_n").toString
    (0 until 3).foreach { i =>
      IvfPq.appendIndex(emb.filter(col("vec_id") % 3 === i), col("embedding"), col("vec_id"), dir)
    }
    val (nb, na) = IvfPq.compactIndex(spark, dir)
    assert(na < nb, s"compact did not reduce files: $nb -> $na")
    def files = {
      val root = new org.apache.hadoop.fs.Path(s"$dir/codes")
      val it = root.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    }
    val kept = files
    val (again, jobs) = graft.sync.SparkJobs.inGroup(spark, "ivfpq-compact-again")(
      graft.sync.Jobs.tagged(spark, "ivfpq-compact-again")(IvfPq.compactIndex(spark, dir)))
    assert(again == ((na, na)) && jobs == 0 && files == kept, s"$again after $jobs jobs")
  }

  test("batch IVFxPQ serving agrees with the single-probe path per probe") {
    import graft.operators.similarity.IvfPq
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_b").toString
    IvfPq.writeIndex(emb, col("embedding"), col("vec_id"), dir)
    val probes = emb.filter(col("vec_id") < 3)
    val batch = IvfPq.topKIndexedBatch(spark, dir, probes,
      col("embedding"), col("vec_id"), topk = 5, nprobe = 3)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._2).toSeq)
    assert(batch.keySet == Set(0L, 1L, 2L))
    // the column-probe CASE-chain ADC must equal the literal-table scan
    probes.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().foreach { case (pid, v) =>
        val single = IvfPq.topKIndexed(spark, dir, v, 5, nprobe = 3)
          .as[(Long, Double)].collect().sortBy(_._2).toSeq
        assert(batch(pid) == single, s"probe $pid diverges")
      }
  }

  test("portable ANN finds the probe and recalls reasonably vs exact") {
    val got = graft.operators.similarity.PortableAnn
      .topK(emb, col("embedding"), col("vec_id"), probe, 10)
      .select("id").as[Long].collect().toSet
    assert(got.contains(0L), "probe shares all its own buckets")
    val recall = exactTop.take(10).map(_._1).count(got.contains) / 10.0
    assert(recall >= 0.2, s"portable ANN recall $recall too low; got=$got")
  }

  test("batch top-k returns k rows per probe, rank 1 is the probe itself") {
    val probes = emb.filter(col("vec_id") < 5)
    val got = SimilaritySearch
      .topKJoin(emb, col("embedding"), col("vec_id"),
        probes, col("embedding"), col("vec_id"), k = 5)
      .select("probe_id", "corpus_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(got.length == 25)
    (0L until 5L).foreach { p =>
      val self = got.find(r => r._1 == p && r._3 == 1).get
      assert(self._2 == p, s"rank-1 neighbor of $p should be itself")
    }
  }

  test("dim-truncation curve matches a driver-side re-derivation") {
    val all = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def cosPrefix(v: Seq[Float], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < d) {
        val x = v(i).toDouble; val y = probe(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0) 0.0 else dot / den
    }
    def topIds(d: Int): Seq[Long] = all
      .map { case (id, v) => (id, cosPrefix(v, d)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
    val exactIds = topIds(64)
    val exactMass = exactIds
      .map(i => math.floor(cosPrefix(all.find(_._1 == i).get._2, 64) * 1e6).toLong).sum
    val got = graft.operators.similarity.DimTruncation
      .curve(emb, col("embedding"), col("vec_id"), probe, 10, Seq(8, 16, 32, 64))
      .select("dim", "hits", "mass_ratio")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(8, 16, 32, 64))
    got.foreach { case (d, hits, mass) =>
      val ids = topIds(d)
      val expHits = ids.count(exactIds.contains)
      assert(hits == expHits, s"dim $d: hits $hits != $expHits")
      val am = ids.map(i =>
        math.floor(cosPrefix(all.find(_._1 == i).get._2, 64) * 1e6).toLong).sum
      val expMass = math.floor(am.toDouble / exactMass.toDouble * 1e4) / 1e4
      assert(math.abs(mass - expMass) < 1e-12, s"dim $d: mass $mass != $expMass")
    }
    // the curve is meaningful: full dim recovers everything, and the
    // shortest prefix must not (the fixture is not degenerate)
    assert(got.last._2 == 10L)
  }

  test("clip calibration matches a driver-side re-derivation") {
    val all = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def quant(v: Seq[Float], r: Int): (Double, Seq[Long]) = {
      val abs = v.map(x => math.abs(x.toDouble)).sorted
      val t = abs(r - 1)
      val s = if (t == 0.0) 0.0 else 127.0 / t
      (s, v.map(x =>
        math.min(127.0, math.max(-127.0, math.floor(x.toDouble * s + 0.5))).toLong))
    }
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val ranks = Seq(52, 58, 62, 64)
    def score(v: Seq[Float], r: Int): Double = {
      val (sp, qp) = quant(probe, r)
      val (sv, qv) = quant(v, r)
      if (sv * sp == 0.0) 0.0
      else qv.zip(qp).map { case (a, b) => a * b }.sum.toDouble / (sv * sp)
    }
    def topIds(f: Seq[Float] => Double): Seq[Long] = all
      .map { case (id, v) => (id, f(v)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
    val exactIds = topIds(v => dot(v, probe))
    val exactMass = exactIds.map(i =>
      math.floor(dot(all.find(_._1 == i).get._2, probe) * 1e6).toLong).sum
    val got = graft.operators.similarity.ClipCalibration
      .curve(emb, col("embedding"), col("vec_id"), probe, 10, ranks)
      .select("clip_rank", "hits", "mass_ratio")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == ranks)
    got.foreach { case (r, hits, mass) =>
      val ids = topIds(v => score(v, r))
      assert(hits == ids.count(exactIds.contains), s"rank $r hits")
      val am = ids.map(i =>
        math.floor(dot(all.find(_._1 == i).get._2, probe) * 1e6).toLong).sum
      val expMass = math.floor(am.toDouble / exactMass.toDouble * 1e4) / 1e4
      assert(math.abs(mass - expMass) < 1e-12, s"rank $r: $mass != $expMass")
    }
  }

  test("vector ops agree with driver-side math on fixture data") {
    val row = emb.filter(col("vec_id") === 1)
      .select(VectorOps.norm(col("embedding")).as("n")).as[Double].head()
    val v = emb.filter(col("vec_id") === 1)
      .select("embedding").as[Seq[Float]].head()
    val expected = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    assert(math.abs(row - expected) < 1e-9)
  }
}
