package graft.operators.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.StagedSwap

/** IVF × PQ — the billion-scale ANN SERVING composition the two
  * pieces exist to form: [[PortableIvf]] prunes WHICH files a query
  * reads (codes persist parquet-partitioned by coarse cell, so a
  * probe touches only its `nprobe` cells' files), and
  * [[ProductQuantizer]] shrinks WHAT each file holds (one 32-bit code
  * per vector instead of 256 float bytes). A query therefore scans
  * `nprobe/numCells` of the corpus at 64× compression — at 100 TB of
  * embeddings that is the difference between an interactive lookup
  * and a full-corpus pass, with the scan itself map-only ADC scoring
  * + TakeOrdered (no shuffle, the original vectors never read).
  * (No reference analog; part of the added LLM-pipeline surface.)
  *
  * The cell assignment and codebooks are the md5-derived portable
  * families, so the whole serving path — cell restriction, per-code
  * ADC distances, ranking — is value-oracled end to end (qs15, the
  * qs07 × qs14 composition).
  */
object IvfPq {

  /** The serving rows: (id, coarse cell, packed PQ code) — everything
    * the index stores per vector, 12 bytes of payload. One map-only
    * pass; both assignments fold into codegen as literal codebooks. */
  def encode(df: DataFrame, vec: Column, id: Column,
      cb: ProductQuantizer.Codebook = ProductQuantizer.DefaultCodebook): DataFrame =
    df.select(
      id.as("id"),
      PortableIvf.cell(vec).as("cell"),
      ProductQuantizer.packedCode(vec, cb).as("pq_code"))

  /** Persist the serving index: codes parquet-PARTITIONED by cell, so
    * a probed read prunes non-probed cells at the FILE level (Spark
    * partition pruning — `PartitionFilters` in the scan, asserted in
    * SimilaritySpec), not per-row. */
  def writeIndex(df: DataFrame, vec: Column, id: Column, dir: String,
      cb: ProductQuantizer.Codebook = ProductQuantizer.DefaultCodebook): Unit =
    encode(df, vec, id, cb)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")

  /** Append an increment into a persisted index without touching the
    * base: new code files land inside the existing cell partitions
    * (dynamic-partition append), existing files are never rewritten,
    * and readers keep pruning at the file level. Because the coarse
    * cells and PQ codebook are FROZEN constants (the externally-
    * trained-codebook mode), an appended index is bit-identical in
    * content to a full rebuild over base ∪ increment — qs24 proves
    * that against the same external oracle as qs15. This is the ANN
    * side of the qd18 incremental contract: the corpus is encoded
    * once, each increment costs one map-only encode of ITS rows. */
  def appendIndex(df: DataFrame, vec: Column, id: Column, dir: String,
      cb: ProductQuantizer.Codebook = ProductQuantizer.DefaultCodebook): Unit =
    encode(df, vec, id, cb)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")

  /** Compact the codes after accumulated appends: every
    * [[appendIndex]] lands NEW files inside the cell partitions, so a
    * long-lived index degrades toward one tiny file per (append ×
    * cell) — at 10⁴ appends that is open/footer overhead dominating
    * the probe scan. Rewrite clusters each cell into one task's
    * output (repartition on the partition column — one shuffle of
    * 12-byte rows), writes beside the live tree, then swaps
    * directories; content and the file-level pruning layout are
    * unchanged (spec-asserted), only the file count collapses. An
    * index whose every cell already holds one file is left as it is,
    * with no shuffle and no write. Same single-writer contract as
    * [[graft.streaming.VectorIngest]]: run it as the out-of-band
    * maintenance job, not under a live writer. Returns (files before,
    * files after). */
  def compactIndex(spark: SparkSession, dir: String): (Long, Long) = {
    val codes = s"$dir/codes"
    StagedSwap.exists(spark, codes) // adopt before counting
    val perCell = StagedSwap.dataFilesByDir(spark, codes).values
    val before = perCell.sum
    if (perCell.forall(_ == 1L)) (before, before)
    else {
      StagedSwap.rewrite(spark, codes)(spark.read.parquet(codes)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet)
      (before, StagedSwap.dataFiles(spark, codes)._1)
    }
  }

  /** ADC top-k against a persisted index: restrict to the `nprobe`
    * cells nearest the probe (partition-pruned scan), then the
    * codes-only ADC scan. */
  def topKIndexed(spark: SparkSession, dir: String, probe: Seq[Float],
      topk: Int, nprobe: Int,
      cb: ProductQuantizer.Codebook = ProductQuantizer.DefaultCodebook): DataFrame =
    adcTopK(spark.read.parquet(s"$dir/codes"), probe, topk, nprobe, cb)

  /** The same restriction + scan over in-memory (id, cell, pq_code)
    * rows — [[encode]]'s output or the persisted index read back. */
  def adcTopK(codes: DataFrame, probe: Seq[Float], topk: Int, nprobe: Int,
      cb: ProductQuantizer.Codebook = ProductQuantizer.DefaultCodebook): DataFrame = {
    val best = PortableIvf.probedCells(probe, nprobe)
    ProductQuantizer.adcTopK(
      codes.filter(col("cell").isin(best: _*)).select("id", "pq_code"),
      probe, topk, cb)
  }

  /** BATCH serving — one pruned scan answers a whole query batch,
    * fully DISTRIBUTED: the probes stay a DataFrame end to end, each
    * probe's `nprobe` cells derive executor-side from the pure
    * [[PortableIvf.probedCellsCol]] expression, and the exploded
    * (probe_id, cell) rows join the codes on cell. At SERVING batch
    * size (plan-estimated probe payload under `thresholdBytes` —
    * see [[ProbeBatch]]) the probe side broadcasts, and on a
    * persisted index the partition-column join equi-key lets dynamic
    * partition pruning restrict the scan to the probed cells' FILES
    * (asserted in PlanShapeSpec). Above the gate — a MINING batch,
    * where a broadcast would be a multi-GB driver collect — the hint
    * is dropped: the probes repartition by the join key, AQE picks a
    * shuffled join, and the codes scan widens to all cells (which a
    * batch probing every cell touches regardless). Each probe's m×k
    * ADC lookup table is computed ONCE on the probe side (one table
    * per probe — it attaches by probe_id after the cell join, not
    * nprobe exploded copies), so per-candidate work is m array
    * lookups summed in the identical fixed s = 0..m−1 order as the
    * single-probe literal table and the oracle — values match
    * bit-for-bit. The only other shuffle is the per-probe top-k
    * window over candidate rows. Constructing the result triggers NO
    * Spark job (plan-only) on either side of the gate. */
  def adcTopKBatch(codes: DataFrame, probes: DataFrame, probeVec: Column,
      probeId: Column, topk: Int, nprobe: Int,
      cb: ProductQuantizer.Codebook = ProductQuantizer.DefaultCodebook,
      thresholdBytes: Long = ProbeBatch.DefaultThresholdBytes): DataFrame = {
    val pv = probes.select(
      probeId.cast("long").as("probe_id"),
      probeVec.cast("array<double>").as("pv"))
    // two probe-side relations instead of one: the exploded (probe_id,
    // cell) rows drive the (partition-pruned, when broadcast) cell
    // join, and the m×k ADC lookup table — computed once per probe,
    // the per-candidate cost is m array lookups, exactly the
    // single-probe literal-table scan's shape (the earlier
    // 16-way-CASE-per-subspace form re-derived every codeword sqDist
    // per candidate and cost ~5× at bench scale) — attaches AFTER by
    // probe_id, so the probe side carries ONE table per probe, not
    // nprobe exploded copies (~1 KB × nprobe × batch saved)
    val cells = pv.select(col("probe_id"),
      explode(PortableIvf.probedCellsCol(col("pv"), nprobe)).as("cell"))
    val tabs = pv.select(col("probe_id"), adcTableCol(col("pv"), cb).as("adc_tab"))
    // gate once on the raw probe estimate: cells ≈ 12 B × nprobe and
    // the ADC table ≈ m×k×8 B per probe — ~5× the ~0.5 KB raw row
    val small = ProbeBatch.fitsBroadcast(pv, thresholdBytes, expansion = 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("adc").asc, col("id").asc)
    codes
      .join(ProbeBatch.hinted(cells, small), Seq("cell"))
      .join(ProbeBatch.hinted(tabs, small), Seq("probe_id"))
      .withColumn("adc", adcLookup(col("adc_tab")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topk)
      .select(col("probe_id"), col("id").as("vec_id"),
        graft.operators.PortableRound.floorTo(col("adc"), 4).as("adc_dist"))
  }

  /** [[adcTopKBatch]] against a persisted index dir. */
  def topKIndexedBatch(spark: SparkSession, dir: String, probes: DataFrame,
      probeVec: Column, probeId: Column, topk: Int, nprobe: Int,
      cb: ProductQuantizer.Codebook = ProductQuantizer.DefaultCodebook,
      thresholdBytes: Long = ProbeBatch.DefaultThresholdBytes): DataFrame =
    adcTopKBatch(spark.read.parquet(s"$dir/codes"), probes, probeVec, probeId,
      topk, nprobe, cb, thresholdBytes)

  /** The probe's m×k ADC lookup table as an array-of-arrays column:
    * adc_tab[s][c] = sqDist(probe slice s, codeword c) — each entry
    * the same sequential fold as the literal table and the oracle's
    * CASE chain, computed ONCE per probe. */
  private def adcTableCol(pv: Column, cb: ProductQuantizer.Codebook): Column = {
    import ProductQuantizer.{dsub, k, m}
    array((0 until m).map { s =>
      val sub = slice(pv, s * dsub + 1, dsub)
      array((0 until k).map(c =>
        graft.functions.VectorExprs.sqDist(sub, typedLit(cb.cents(s)(c)))): _*)
    }: _*)
  }

  /** Per-candidate ADC from the precomputed table: unpack each 4-bit
    * code nibble, index the table, sum subspaces in the same fixed
    * s = 0..m−1 order as every other ADC formulation — so values are
    * bit-identical to the single-probe scan and the oracle. */
  private def adcLookup(tab: Column): Column = {
    import ProductQuantizer.m
    (0 until m)
      .map { s =>
        val codeS = (expr(s"pq_code div ${1L << (4 * s)}") % 16).cast("int")
        element_at(element_at(tab, s + 1), codeS + 1)
      }
      .reduce(_ + _)
  }

  /** qs19 oracle: the qs15 statement generalized to a probe TABLE —
    * per-probe probed cells, the shared CASE chain against each
    * probe's embedding, per-probe window top-k. */
  def oracleBatchSql(maxProbeId: Int, topk: Int, nprobe: Int): String = {
    val codeCols = ProductQuantizer.codeColsSql("embedding")
    val chain = ProductQuantizer.adcChainSql
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
       |           FROM embeddings WHERE vec_id < $maxProbeId),
       |probed AS (SELECT probe_id, unnest(list_transform(
       |             list_slice(list_reverse_sort(${PortableIvf.scoredListSql("p.pe")}), 1, $nprobe),
       |             x -> CAST(x[2] AS INT))) AS cell
       |           FROM p),
       |codes AS (
       |  SELECT vec_id, ${PortableIvf.cellSql("embedding")} AS cell,
       |       $codeCols
       |  FROM embeddings),
       |scored AS (
       |  SELECT p.probe_id, z.vec_id, $chain AS adc
       |  FROM codes z
       |  JOIN probed q ON z.cell = q.cell
       |  JOIN p ON p.probe_id = q.probe_id)
       |SELECT probe_id, vec_id, (floor((adc) * 10000.0) / 10000.0) AS adc_dist FROM (
       |  SELECT probe_id, vec_id, adc,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY adc, vec_id) AS rnk
       |  FROM scored) z2
       |WHERE rnk <= $topk""".stripMargin
  }

  /** DuckDB rendition of the composition: probed cells exactly as
    * qs07's oracle, codes + ADC chain exactly as qs14's, the cell
    * restriction applied to the codes CTE. */
  def oracleSql(topk: Int, nprobe: Int): String = {
    val codeCols = ProductQuantizer.codeColsSql("embedding")
    val chain = ProductQuantizer.adcChainSql
    s"""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
       |probed AS (SELECT unnest(list_transform(
       |             list_slice(list_reverse_sort(${PortableIvf.scoredListSql("p.pe")}), 1, $nprobe),
       |             x -> CAST(x[2] AS INT))) AS cell
       |           FROM p),
       |codes AS (
       |  SELECT vec_id, ${PortableIvf.cellSql("embedding")} AS cell,
       |       $codeCols
       |  FROM embeddings)
       |SELECT vec_id, (floor((adc) * 10000.0) / 10000.0) AS adc_dist FROM (
       |  SELECT z.vec_id, $chain AS adc
       |  FROM codes z, p
       |  WHERE z.cell IN (SELECT cell FROM probed)) z2
       |ORDER BY adc, vec_id LIMIT $topk""".stripMargin
  }
}
