package graft.operators.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.StagedSwap

/** Corpus snapshot diff — the content-level "what changed between v1
  * and v2" report a dataset release needs (and the corpus-scale
  * sibling of the reference's `compare --content` table checksum,
  * cmd/compare.go: there a sync tool proves two TABLES match; here a
  * curation pipeline proves exactly how two CORPUS VERSIONS differ):
  * every doc id lands in exactly one of added / removed / changed /
  * unchanged, with doc and byte counts per status.
  *
  * Scale shape: each side reduces to (id, 128-bit md5 digest, length)
  * BEFORE the join — payload bytes never shuffle; the full-outer
  * hash join on id is the one shuffle, and the status rollup is a
  * 4-row aggregate. At 100 TB this is exactly the
  * digest-comparison plan DeltaSync's checksum ranges use, minus the
  * range bucketing a remote-DB round trip needs.
  *
  * Portability: counts and BIGINT length sums only; md5 equality is
  * engine-identical on identical bytes.
  */
object CorpusDiff {

  /** Digest dispatch on the content column's type: BinaryType is
    * hashed over the RAW bytes (a string round-trip is not a faithful
    * identity for arbitrary payloads — invalid-UTF8 bytes can collapse,
    * and char counts misstate sizes; `MediaIngest` set this precedent)
    * and sized in bytes; everything else keeps the string digest, whose
    * oracle parity qd31 pins. */
  private def digests(
      df: DataFrame, id: Column, content: Column, side: String): DataFrame = {
    val isBinary = df.select(content).schema.head.dataType ==
      org.apache.spark.sql.types.BinaryType
    val (dig, len) =
      if (isBinary) (md5(content), length(content).cast("long"))
      else (md5(content.cast("string")), length(content.cast("string")).cast("long"))
    graft.operators.Parallelism.ensureMin(df).select(
      id.as(s"${side}_id"),
      dig.as(s"${side}_digest"),
      len.as(s"${side}_len"))
  }

  /** Per-id status: (id, status) for added/removed/changed ids plus
    * the unchanged ids — callers filtering to the non-unchanged
    * slice get the release manifest delta. */
  def diffIds(
      left: DataFrame, right: DataFrame,
      id: Column, content: Column): DataFrame =
    diffDigested(
      digests(left, id, content, "l"),
      digests(right, id, content, "r"))

  private def diffDigested(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, l("l_id") === r("r_id"), "full_outer")
      .select(
        coalesce(col("l_id"), col("r_id")).as("id"),
        when(col("l_id").isNull, lit("added"))
          .when(col("r_id").isNull, lit("removed"))
          .when(col("l_digest") =!= col("r_digest"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        // bytes attributed to the NEW side where it exists (added /
        // changed / unchanged read v2 forward; removed is v1-only)
        coalesce(col("r_len"), col("l_len")).as("n_chars"))

  /** The release summary: (status, n_docs, n_chars), one row per
    * status that occurs. */
  def diff(
      left: DataFrame, right: DataFrame,
      id: Column, content: Column): DataFrame =
    diffIds(left, right, id, content)
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))

  // ---- persisted digest manifest (the release-over-release mode) ----
  //
  // A release pipeline rarely keeps v1 around: the manifest persists
  // v1 as (id, digest, n_chars) — ~40 bytes/doc instead of the corpus
  // — so every later snapshot diffs against the sidecar alone. Writes
  // rotate through StagedSwap like every persisted artifact here.

  private def manifestPath(dir: String) = s"$dir/manifest"

  /** The (id, digest, n_chars, digest_v) projection every manifest
    * face shares — Barrier it when feeding BOTH a diff and an update,
    * so the corpus is digested once (review finding: `diff against
    * --update` used to md5 the corpus twice). `digest_v` names the
    * digest scheme ("md5_bin" for raw-byte BinaryType digests,
    * "md5_str" for the string digest) so a manifest built under one
    * scheme is never silently diffed under another — the round-13
    * binary-safety change would otherwise make an old binary manifest
    * report EVERY row changed on its first post-upgrade diff. */
  def snapshotDigests(df: DataFrame, id: Column, content: Column): DataFrame = {
    val isBinary = df.select(content).schema.head.dataType ==
      org.apache.spark.sql.types.BinaryType
    val scheme = if (isBinary) "md5_bin" else "md5_str"
    // the scheme rides COLUMN METADATA (persisted through parquet's
    // Spark-schema footer), so it is recoverable statically — an empty
    // snapshot or manifest must not default to the wrong scheme and
    // throw a spurious mismatch (review finding)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(SchemeKey, scheme).build()
    digests(df, id, content, "l")
      .select(col("l_id").as("id"), col("l_digest").as("digest"),
        col("l_len").as("n_chars"),
        lit(scheme).as("digest_v", md))
  }

  private val SchemeKey = "graft_digest_scheme"

  /** The digest scheme a digested frame carries: column metadata when
    * present (static, empty-safe), else one data row; "unknown" = the
    * column exists but the frame is empty and unannotated — an empty
    * side never compares digests, so callers treat it as vacuously
    * safe; "legacy" = the column itself is missing. */
  private def schemeOf(df: DataFrame): String =
    if (!df.columns.contains("digest_v")) "legacy"
    else {
      val md = df.schema("digest_v").metadata
      if (md.contains(SchemeKey)) md.getString(SchemeKey)
      else df.select("digest_v").head(1).headOption
        .map(_.getString(0)).getOrElse("unknown")
    }

  /** Persist the snapshot's digest manifest; returns rows written. */
  def writeManifest(
      df: DataFrame, id: Column, content: Column, dir: String): Long =
    writeManifestFrom(snapshotDigests(df, id, content), dir)

  /** [[writeManifest]] from an already-digested snapshot. */
  def writeManifestFrom(digested: DataFrame, dir: String): Long = {
    val spark = digested.sparkSession
    StagedSwap.rewrite(spark, manifestPath(dir))(digested.write.mode("overwrite").parquet)
    spark.read.parquet(manifestPath(dir)).count()
  }

  def manifestExists(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean =
    StagedSwap.exists(spark, manifestPath(dir))

  /** Diff a new snapshot against the persisted manifest — the corpus
    * is read once (digest projection), the manifest is sidecar-sized;
    * same 4-status summary as [[diff]]. */
  def diffAgainstManifest(
      right: DataFrame, id: Column, content: Column,
      dir: String): DataFrame =
    diffAgainstManifestFrom(snapshotDigests(right, id, content), dir)

  /** [[diffAgainstManifest]] from an already-digested snapshot.
    *
    * Scheme guard: the manifest's recorded `digest_v` must match the
    * snapshot's. A manifest WITHOUT the column (built before the
    * scheme was versioned) is accepted only for string digests —
    * "md5_str" has been stable across every build — and rejected with
    * a rebuild instruction for binary content, where pre-versioning
    * manifests are ambiguous (string-cast vs raw-byte digests) and a
    * silent mismatch would report the whole corpus as changed. */
  def diffAgainstManifestFrom(digested: DataFrame, dir: String): DataFrame = {
    val spark = digested.sparkSession
    require(manifestExists(spark, dir), s"no manifest at $dir")
    val manifest = spark.read.parquet(manifestPath(dir))
    val snapScheme = schemeOf(digested) match {
      case "legacy" => "md5_str" // pre-versioning caller, string digests
      case s => s
    }
    (schemeOf(manifest), snapScheme) match {
      case ("unknown", _) | (_, "unknown") => () // an empty side never compares digests
      case (m, s) if m == s => ()
      case ("legacy", "md5_str") => ()
      case ("legacy", _) => throw new IllegalStateException(
        s"manifest at $dir predates digest-scheme versioning but the " +
          s"snapshot digests binary content ($snapScheme): its digests " +
          "are ambiguous — rebuild it (diff build) once before diffing")
      case (other, _) => throw new IllegalStateException(
        s"digest scheme mismatch at $dir: manifest=$other " +
          s"snapshot=$snapScheme — rebuild the manifest (diff build)")
    }
    val l = manifest
      .select(col("id").as("l_id"), col("digest").as("l_digest"),
        col("n_chars").as("l_len"))
    diffDigested(l, digested
      .select(col("id").as("r_id"), col("digest").as("r_digest"),
        col("n_chars").as("r_len")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
  }

  /** qd31 oracle — literal SQL twin over `documents` with the same
    * synthetic v2 derivation the query uses ([[syntheticV2Sql]]). */
  def oracleDiffSql(v2Sql: String): String =
    s"""WITH l AS (SELECT doc_id AS l_id, md5(text) AS l_digest,
       |                  length(text)::BIGINT AS l_len FROM documents),
       |r AS (SELECT doc_id AS r_id, md5(text) AS r_digest,
       |             length(text)::BIGINT AS r_len FROM ($v2Sql) v2),
       |j AS (
       |  SELECT coalesce(l_id, r_id) AS id,
       |         CASE WHEN l_id IS NULL THEN 'added'
       |              WHEN r_id IS NULL THEN 'removed'
       |              WHEN l_digest <> r_digest THEN 'changed'
       |              ELSE 'unchanged' END AS status,
       |         coalesce(r_len, l_len) AS n_chars
       |  FROM l FULL OUTER JOIN r ON l_id = r_id)
       |SELECT status, count(*)::BIGINT AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM j GROUP BY status""".stripMargin

  /** The deterministic v2 the qd31 fixture diffs against: doc_id ≡ 0
    * (mod 7) dropped, doc_id ≡ 0 (mod 11) edited (suffix appended),
    * doc_id ≡ 0 (mod 13) re-ingested under a fresh id — removals,
    * changes, and additions all present in one derivation both
    * engines compute identically. */
  val syntheticV2Sql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END AS text
      |FROM documents WHERE doc_id % 7 <> 0
      |UNION ALL
      |SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** Spark twin of [[syntheticV2Sql]]. */
  def syntheticV2(documents: DataFrame): DataFrame = {
    val edited = documents
      .where(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
    val added = documents
      .where(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
    edited.select("doc_id", "text").unionByName(added.select("doc_id", "text"))
  }
}
