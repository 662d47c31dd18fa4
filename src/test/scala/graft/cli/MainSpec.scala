package graft.cli

import java.nio.file.Files

import graft.SparkSpec

/** End-to-end CLI flows: parquet -> parquet sync + compare, and
  * parquet -> embedded Derby JDBC sync + compare (the reference's
  * actual database-to-database shape). */
class MainSpec extends SparkSpec {

  private def writeCfg(body: String): String = {
    val f = Files.createTempFile("graft_cli", ".yml")
    Files.writeString(f, body)
    f.toString
  }

  /** Exit code and stdout of one CLI run, the elapsed times masked: the
    * summary's seconds, and the sync table's ElapsedMs cells (always 9
    * wide, the header's width, before the Result cell). */
  private def captured(args: String*): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(
      Main.run(args.toArray, spark))
    rc -> buf.toString("UTF-8")
      .replaceAll("""elapsed \d+\.\d\ds""", "elapsed #s")
      .replaceAll("""(?m)^(\| \w+ +\| -?\d+ +\| )[\d ]{9}( \| (?:OK|FAILED|SKIPPED))""", "$1#########$2")
  }

  /** Expected stdout: each line newline-terminated. */
  private def lines(ls: String*): String = ls.map(_ + "\n").mkString

  test("sync + compare parquet->parquet via CLI") {
    val out = Files.createTempDirectory("graft_cli_out").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |maxParallel: 4
         |exclude: lineitem orders events documents embeddings part
         |""".stripMargin)
    // O4: each run arms the shutdown-cancel hook for its duration and
    // disarms on exit — no hook thread accumulates across invocations
    val armedBefore = graft.sync.Jobs.armTotal
    assert(Main.run(Array("sync", "--config", cfg), spark) == 0)
    assert(Main.run(Array("compare", "--config", cfg), spark) == 0)
    assert(graft.sync.Jobs.armTotal == armedBefore + 2,
      "CLI run did not arm the shutdown hook")
    assert(graft.sync.Jobs.armedCount == 0,
      "CLI run leaked an armed shutdown hook")
    assert(new java.io.File(s"$out/nation.parquet").exists())
  }

  test("sync --ledger: a killed run's rerun touches only the incomplete table") {
    val out = Files.createTempDirectory("graft_cli_resume_out").toString
    val led = Files.createTempDirectory("graft_cli_resume_led").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |maxParallel: 2
         |exclude: lineitem orders events documents embeddings part customer supplier
         |""".stripMargin)
    // simulate a run killed after `nation` committed: its table is in
    // the dest and its ledger row is written, `region` never ran
    val catalog = new graft.catalog.ParquetCatalog(sf0001)
    val sink = graft.sync.FileSink(out, "parquet")
    val r1 = graft.sync.Sync.syncTable(spark, catalog, sink, "nation")
    assert(r1.ok)
    graft.sync.SyncLedger.markDone(spark, led, "nation", r1.rows)
    def listing(t: String): Set[String] = {
      val d = new java.io.File(s"$out/$t.parquet")
      if (!d.exists()) Set.empty else d.listFiles().map(_.getName).toSet
    }
    val nationBefore = listing("nation")
    assert(nationBefore.nonEmpty)
    // the resumed run: nation skipped (files untouched), region synced
    assert(Main.run(Array("sync", "--ledger", led, "--config", cfg), spark) == 0)
    assert(listing("nation") == nationBefore,
      "resume rewrote the already-committed table")
    assert(listing("region").nonEmpty, "resume did not run the missing table")
    // and the final compare is clean
    assert(Main.run(Array("compare", "--config", cfg), spark) == 0)
    // the green run closed the ledger: the NEXT sync is a fresh full
    // load and rewrites everything
    assert(graft.sync.SyncLedger.completed(spark, led).isEmpty)
    assert(Main.run(Array("sync", "--ledger", led, "--config", cfg), spark) == 0)
    assert(listing("nation") != nationBefore,
      "fresh run after a completed ledger did not re-copy")
    // --from-scratch discards an in-progress ledger up front
    graft.sync.SyncLedger.markDone(spark, led, "nation", r1.rows)
    val staleNation = listing("nation")
    assert(Main.run(Array("sync", "--ledger", led, "--from-scratch",
      "--config", cfg), spark) == 0)
    assert(listing("nation") != staleNation,
      "--from-scratch honored the stale ledger")
  }

  test("sync + compare parquet->Derby JDBC via CLI") {
    val url = "jdbc:derby:memory:clidb;create=true"
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: $url
         |maxParallel: 2
         |batchRowSize: 500
         |exclude: lineitem orders events documents embeddings part customer supplier
         |""".stripMargin)
    assert(Main.run(Array("sync", "--config", cfg), spark) == 0)
    assert(Main.run(Array("compare", "--config", cfg), spark) == 0)
  }

  test("sync with a tables: section loads only the configured SELECTs") {
    // the reference's custom-SQL mode: each configured table loads from
    // its SELECTs, run on the JDBC source; no other table is touched
    val srcUrl = "jdbc:derby:memory:clicustomsrc;create=true"
    val out = Files.createTempDirectory("graft_cli_custom").toString
    graft.sync.DdlReplay.replay(
      new graft.catalog.JdbcCatalog(graft.config.Endpoint(srcUrl)), Seq(
        "CREATE TABLE cs_pick (id INT NOT NULL PRIMARY KEY, v VARCHAR(16))",
        "INSERT INTO cs_pick VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')",
        "CREATE TABLE cs_other (id INT NOT NULL PRIMARY KEY)",
        "INSERT INTO cs_other VALUES (1)"))
    val tables =
      """tables:
        |  cs_pick:
        |    - "SELECT id, v FROM cs_pick WHERE id <= 2"
        |    - "SELECT id, v FROM cs_pick WHERE id = 4"
        |""".stripMargin
    val cfg = writeCfg(
      s"""src:
         |  url: $srcUrl
         |dest:
         |  url: parquet:$out
         |""".stripMargin + tables)
    assert(Main.run(Array("sync", "--config", cfg), spark) == 0)
    val got = spark.read.parquet(s"$out/cs_pick.parquet").select("id")
      .collect().map(_.getInt(0)).sorted
    assert(got.sameElements(Array(1, 2, 4)), got.mkString(","))
    assert(!new java.io.File(s"$out/cs_other.parquet").exists(),
      "a table outside the tables: section was loaded")
    // the SELECTs need a JDBC source, and the mode has no delta or ledger
    assert(Main.run(Array("sync", "--delta", "--config", cfg), spark) == 2)
    assert(Main.run(Array("sync", "--ledger", s"$out/_ledger", "--config", cfg), spark) == 2)
    val fileSrc = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |""".stripMargin + tables)
    assert(Main.run(Array("sync", "--config", fileSrc), spark) == 2)
  }

  test("a parquet:file: source lists its tables through the Hadoop FileSystem") {
    val out = Files.createTempDirectory("graft_cli_fileuri").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:file:$sf0001
         |dest:
         |  url: parquet:$out
         |exclude: lineitem orders events documents embeddings part customer supplier
         |""".stripMargin)
    assert(Main.run(Array("sync", "--config", cfg), spark) == 0)
    assert(Seq("nation", "region").forall(t =>
      new java.io.File(s"$out/$t.parquet").exists()),
      "a file: URI source listed no tables")
    assert(Main.run(Array("compare", "--config", cfg), spark) == 0)
  }

  test("compare flags missing destination tables") {
    val out = Files.createTempDirectory("graft_cli_out2").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |exclude: lineitem orders events documents embeddings part customer supplier
         |""".stripMargin)
    // nothing synced yet -> every table missing -> nonzero failure count
    assert(Main.run(Array("compare", "--config", cfg), spark) > 0)
  }

  test("compare --content catches a same-count content mutation") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_cli_out3").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |exclude: lineitem orders events documents embeddings part customer supplier nation
         |""".stripMargin)
    assert(Main.run(Array("sync", "--config", cfg), spark) == 0)
    assert(Main.run(Array("compare", "--config", cfg, "--content"), spark) == 0)
    // mutate one region row, keep the row count — the count compare
    // stays green, the content compare must go red
    val mutated = spark.read.parquet(s"$out/region.parquet")
      .withColumn("r_name",
        when(col("r_regionkey") === 0, lit("MUTATED")).otherwise(col("r_name")))
    val tmp = Files.createTempDirectory("graft_cli_mut").toString
    mutated.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(s"$out/region.parquet")
    assert(Main.run(Array("compare", "--config", cfg), spark) == 0,
      "count compare cannot see the mutation")
    assert(Main.run(Array("compare", "--config", cfg, "--content"), spark) > 0,
      "content compare must see the mutation")
  }

  test("sync --delta repairs a mutated destination and is idempotent") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_cli_delta").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |exclude: lineitem orders events documents embeddings part region nation supplier
         |""".stripMargin)
    // first delta run on a missing target = full load
    assert(Main.run(Array("sync", "--delta", "--config", cfg), spark) == 0)
    assert(Main.run(Array("compare", "--config", cfg, "--content"), spark) == 0)
    // corrupt one customer row in place (same count)
    val mutated = spark.read.parquet(s"$out/customer.parquet")
      .withColumn("c_name",
        when(col("c_custkey") === 7, lit("CORRUPT")).otherwise(col("c_name")))
    val tmp = Files.createTempDirectory("graft_cli_delta_mut").toString
    mutated.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(s"$out/customer.parquet")
    assert(Main.run(Array("compare", "--config", cfg, "--content"), spark) > 0)
    // delta sync heals it; content compare goes green again
    assert(Main.run(Array("sync", "--delta", "--config", cfg), spark) == 0)
    assert(Main.run(Array("compare", "--config", cfg, "--content"), spark) == 0)
  }

  test("sync and compare reports: header, rows, summary line and exit code (golden)") {
    val out = Files.createTempDirectory("graft_cli_golden").toString
    def config(exclude: String, watermarks: String) = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |exclude: lineitem orders events documents embeddings part customer $exclude
         |$watermarks
         |""".stripMargin)
    // `synced` loads nation and region; `wide` also lists supplier,
    // which is never synced, so each compare has a failing row
    val synced = config("supplier", "watermarks.nation: n_nationkey")
    val wide = config("", "watermarks.nation: n_nationkey\nwatermarks.supplier: s_suppkey")
    val got = Seq(
      captured("sync", "--config", synced),
      captured("sync", "--delta", "--config", synced),
      captured("compare", "--freshness", "--config", synced),
      captured("compare", "--freshness", "--config", wide),
      captured("compare", "--schema", "--config", synced),
      captured("compare", "--schema", "--config", wide),
      captured("compare", "--config", synced),
      captured("compare", "--content", "--config", wide))
    val expected = Seq(
      0 -> lines(
        "+--------+------+-----------+--------+",
        "| Object | Rows | ElapsedMs | Result |",
        "+--------+------+-----------+--------+",
        "| nation | 25   | ######### | OK     |",
        "| region | 5    | ######### | OK     |",
        "+--------+------+-----------+--------+",
        "Sync finished, elapsed #s, failed 0"),
      0 -> lines(
        "+--------+--------+---------+------------+--------+",
        "| Object | Slices | Changed | RowsCopied | Result |",
        "+--------+--------+---------+------------+--------+",
        "| nation | 26     | 0       | 0          | OK     |",
        "| region | 6      | 0       | 0          | OK     |",
        "+--------+--------+---------+------------+--------+",
        "Delta sync finished, elapsed #s, failed 0"),
      0 -> lines(
        "+--------+-------------+--------+---------+--------+",
        "| Table  | Watermark   | SrcMax | DestMax | InSync |",
        "+--------+-------------+--------+---------+--------+",
        "| nation | n_nationkey | 24     | 24      | YES    |",
        "+--------+-------------+--------+---------+--------+",
        "Freshness compare finished, elapsed #s, 0 lagging / 1 tables"),
      1 -> lines(
        "+----------+-------------+--------+---------+--------+",
        "| Table    | Watermark   | SrcMax | DestMax | InSync |",
        "+----------+-------------+--------+---------+--------+",
        "| nation   | n_nationkey | 24     | 24      | YES    |",
        "| supplier | s_suppkey   | 9      | -       | NO     |",
        "+----------+-------------+--------+---------+--------+",
        "Freshness compare finished, elapsed #s, 1 lagging / 2 tables"),
      0 -> lines(
        "schema compare: 2 tables, no drift",
        "Schema compare finished, elapsed #s, 0 drifting / 2 tables"),
      1 -> lines(
        "+----------+--------+---------------+---------+----------+",
        "| Table    | Column | Status        | SrcType | DestType |",
        "+----------+--------+---------------+---------+----------+",
        "| supplier | *      | table_missing | -       | -        |",
        "+----------+--------+---------------+---------+----------+",
        "Schema compare finished, elapsed #s, 1 drifting / 3 tables"),
      0 -> lines(
        "+--------+------------+----------+-------------+------+",
        "| Table  | SourceRows | DestRows | DestIsExist | IsOk |",
        "+--------+------------+----------+-------------+------+",
        "| nation | 25         | 25       | YES         | YES  |",
        "| region | 5          | 5        | YES         | YES  |",
        "+--------+------------+----------+-------------+------+",
        "Compare finished, elapsed #s"),
      1 -> lines(
        "+----------+------------+----------+-------------+------+",
        "| Table    | SourceRows | DestRows | DestIsExist | IsOk |",
        "+----------+------------+----------+-------------+------+",
        "| nation   | 25         | 25       | YES         | YES  |",
        "| region   | 5          | 5        | YES         | YES  |",
        "| supplier | 10         | -1       | NO          | NO   |",
        "+----------+------------+----------+-------------+------+",
        "Failed tables:",
        "+----------+------------+----------+",
        "| Table    | SourceRows | DestRows |",
        "+----------+------------+----------+",
        "| supplier | 10         | -1       |",
        "+----------+------------+----------+",
        "Compare finished, elapsed #s"))
    got.zip(expected).foreach { case (g, e) => assert(g == e) }
    assert(got.length == expected.length)
  }

  test("non-sync reports: tables, summary line and exit code (golden)") {
    // a fixed-length destination path, masked by a token of the same
    // length, so the tables that print it keep fixed column widths
    val base = Files.createTempDirectory("graft_g2").toString
    require(base.length < 47, s"temp dir too long for the golden: $base")
    val out = s"$base/${"o" * (47 - base.length)}"
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    // the destination as a source, for commands that rewrite their input
    val outCfg = writeCfg(
      s"""src:
         |  url: parquet:$out
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    val queries = Files.writeString(Files.createTempFile("graft_g2", ".txt"),
      "the data\nmerge window\n").toString
    // a file-stream source is a directory of parquet files
    val stream = Files.createDirectories(java.nio.file.Paths.get(base, "stream")).toString
    Files.copy(java.nio.file.Paths.get(s"$sf0001/documents.parquet"),
      java.nio.file.Paths.get(stream, "part-0.parquet"))
    def run(args: String*): (Int, String) = {
      val (rc, text) = captured(args: _*)
      rc -> text.replace(out, "$OUT".padTo(out.length, '_'))
    }
    val got = Seq(
      run("profile", "--table", "nation", "--config", cfg),
      run("profile", "--table", "nation", "--sketch", "--config", cfg),
      run("profile", "--table", "customer", "--key", "c_nationkey", "--top", "3", "--config", cfg),
      run("hll", "build", "--table", "documents", "--index", s"$out/hll", "--config", cfg),
      run("card", "--table", "documents", "--config", cfg),
      run("mix", "--table", "documents", "--config", cfg),
      run("embed", "--table", "documents", "--dim", "8", "--config", cfg),
      run("compact", "--table", "documents_emb", "--config", outCfg),
      run("diff", "build", "--table", "documents", "--index", s"$out/diff", "--config", cfg),
      run("diff", "against", "--table", "documents", "--index", s"$out/diff", "--config", cfg),
      run("hist", "build", "--table", "events", "--index", s"$out/hist", "--config", cfg),
      run("audit", "--table", "customer", "--quasi", "c_nationkey", "--k", "10", "--config", cfg),
      run("lm", "score", "--table", "documents", "--config", cfg),
      run("dsir", "--table", "documents", "--k", "5", "--config", cfg),
      run("pack", "--table", "documents", "--shards", "2", "--config", cfg),
      run("curate", "--table", "documents", "--config", cfg),
      run("tokenize", "train", "--algo", "seed", "--out", s"$out/seed", "--config", cfg),
      run("index", "build", "--table", "documents", "--index", s"$out/idx", "--config", cfg),
      run("index", "compact", "--index", s"$out/idx", "--config", cfg),
      run("cc", "build", "--table", "documents", "--store", s"$out/cc", "--config", cfg),
      run("cc", "show", "--store", s"$out/cc", "--k", "3", "--config", cfg),
      run("ann", "build", "--table", "embeddings", "--index", s"$out/ann", "--config", cfg),
      run("search", "--query", "the data", "--mode", "bm25", "--k", "3", "--config", cfg),
      run("create-table", "--config", cfg),
      run("ann", "append", "--table", "embeddings", "--index", s"$out/ann", "--config", cfg),
      run("ann", "compact", "--index", s"$out/ann", "--config", cfg),
      run("ann", "search", "--index", s"$out/ann", "--table", "embeddings", "--probe-id", "7",
        "--k", "3", "--config", cfg),
      run("index", "append", "--table", "documents", "--index", s"$out/idx", "--into", "docs_inc",
        "--config", cfg),
      run("curate-stream", "--source", stream, "--index", s"$out/idx",
        "--into", "docs_stream", "--checkpoint", s"$base/ckpt", "--config", cfg),
      run("cc", "append", "--table", "documents", "--store", s"$out/cc", "--index", s"$out/idx",
        "--config", cfg),
      run("cc", "compact", "--store", s"$out/cc", "--buckets", "4", "--config", cfg),
      run("tokenize", "train", "--algo", "bpe", "--merges", "5", "--out", s"$out/bpe", "--config", cfg),
      run("tokenize", "apply", "--algo", "bpe", "--vocab", s"$out/bpe", "--config", cfg),
      run("pack", "--table", "documents", "--shards", "2", "--into", "docs_p2", "--materialize",
        "--config", cfg),
      run("diff", "against", "--table", "documents", "--index", s"$out/diff", "--update",
        "--config", cfg),
      run("search", "--probe-file", queries, "--k", "2", "--config", cfg))
    val expected = Seq(
      0 -> lines(
        "+-------------+----------+-------+",
        "| Column      | Metric   | Value |",
        "+-------------+----------+-------+",
        "| _table      | rows     | 25    |",
        "| n_name      | distinct | 25    |",
        "| n_name      | len_max  | 9     |",
        "| n_name      | len_sum  | 215   |",
        "| n_name      | nulls    | 0     |",
        "| n_nationkey | distinct | 25    |",
        "| n_nationkey | max      | 24    |",
        "| n_nationkey | min      | 0     |",
        "| n_nationkey | nulls    | 0     |",
        "| n_regionkey | distinct | 5     |",
        "| n_regionkey | max      | 4     |",
        "| n_regionkey | min      | 0     |",
        "| n_regionkey | nulls    | 0     |",
        "+-------------+----------+-------+",
        "Profile finished, elapsed #s, nation, 13 metrics"),
      0 -> lines(
        "+-------------+--------------+",
        "| Column      | Est distinct |",
        "+-------------+--------------+",
        "| n_name      | 26           |",
        "| n_nationkey | 24           |",
        "| n_regionkey | 5            |",
        "+-------------+--------------+",
        "Profile (sketch) finished, elapsed #s, nation, 3 columns"),
      0 -> lines(
        "+-----+------+---------------+--------------+------+",
        "| Key | Rows | Share (milli) | Heat (milli) | Salt |",
        "+-----+------+---------------+--------------+------+",
        "| 19  | 13   | 86            | 2166         | 1    |",
        "| 11  | 11   | 73            | 1833         | 1    |",
        "| 10  | 9    | 60            | 1500         | 1    |",
        "+-----+------+---------------+--------------+------+",
        "Profile (skew) finished, elapsed #s, customer.c_nationkey, 3 hot keys"),
      0 -> lines(
        "+--------+-----------+----------------------+",
        "| Source | Zero regs | Est distinct 5-grams |",
        "+--------+-----------+----------------------+",
        "| src0   | 31        | 1353                 |",
        "| src1   | 25        | 1373                 |",
        "| src10  | 40        | 1299                 |",
        "| src11  | 40        | 1395                 |",
        "| src12  | 30        | 1447                 |",
        "| src13  | 50        | 1237                 |",
        "| src14  | 23        | 1553                 |",
        "| src15  | 49        | 1264                 |",
        "| src16  | 39        | 1355                 |",
        "| src17  | 38        | 1340                 |",
        "| src18  | 41        | 1288                 |",
        "| src19  | 44        | 1313                 |",
        "| src2   | 50        | 1213                 |",
        "| src3   | 25        | 1478                 |",
        "| src4   | 46        | 1202                 |",
        "| src5   | 64        | 1113                 |",
        "| src6   | 36        | 1373                 |",
        "| src7   | 64        | 1134                 |",
        "| src8   | 36        | 1390                 |",
        "| src9   | 40        | 1275                 |",
        "+--------+-----------+----------------------+",
        "HLL build finished, elapsed #s, 20 sources -> $OUT____________________________________________/hll"),
      0 -> lines(
        "+--------+------+--------+---------+------------+---------+",
        "| Source | Docs | Tokens | DupRate | AvgQuality | TopLang |",
        "+--------+------+--------+---------+------------+---------+",
        "| src0   | 25   | 1533   | 0.0000  | 0.7082     | fr      |",
        "| src1   | 25   | 1441   | 0.0000  | 0.7059     | en      |",
        "| src10  | 25   | 1376   | 0.0000  | 0.6819     | en      |",
        "| src11  | 25   | 1426   | 0.0000  | 0.6979     | en      |",
        "| src12  | 25   | 1479   | 0.0000  | 0.7026     | en      |",
        "| src13  | 25   | 1269   | 0.0000  | 0.6769     | en      |",
        "| src14  | 25   | 1657   | 0.0000  | 0.7154     | es      |",
        "| src15  | 25   | 1332   | 0.0000  | 0.6762     | en      |",
        "| src16  | 25   | 1414   | 0.0000  | 0.6956     | en      |",
        "| src17  | 25   | 1314   | 0.0000  | 0.6750     | en      |",
        "| src18  | 25   | 1271   | 0.0000  | 0.6671     | en      |",
        "| src19  | 25   | 1369   | 0.0000  | 0.6839     | en      |",
        "| src2   | 25   | 1267   | 0.0000  | 0.6783     | fr      |",
        "| src3   | 25   | 1560   | 0.0000  | 0.7146     | en      |",
        "| src4   | 25   | 1316   | 0.0000  | 0.6677     | en      |",
        "| src5   | 25   | 1216   | 0.0000  | 0.6537     | en      |",
        "| src6   | 25   | 1466   | 0.0000  | 0.6957     | en      |",
        "| src7   | 25   | 1212   | 0.0000  | 0.6549     | en      |",
        "| src8   | 25   | 1632   | 0.0000  | 0.7324     | en      |",
        "| src9   | 25   | 1389   | 0.0000  | 0.6939     | es      |",
        "+--------+------+--------+---------+------------+---------+",
        "Card finished, elapsed #s"),
      0 -> lines(
        "+--------+------+-------+--------+-----+-----------+-----------+",
        "| Source | Raw  | Avail | Target | Sat | Epochs(m) | Effective |",
        "+--------+------+-------+--------+-----+-----------+-----------+",
        "| src0   | 1533 | 840   | 439    |     | 522       | 439       |",
        "| src1   | 1441 | 862   | 426    |     | 494       | 426       |",
        "| src10  | 1376 | 833   | 416    |     | 499       | 416       |",
        "| src11  | 1426 | 708   | 423    |     | 597       | 423       |",
        "| src12  | 1479 | 565   | 431    |     | 762       | 431       |",
        "| src13  | 1269 | 634   | 399    |     | 629       | 399       |",
        "| src14  | 1657 | 741   | 456    |     | 615       | 456       |",
        "| src15  | 1332 | 803   | 409    |     | 509       | 409       |",
        "| src16  | 1414 | 877   | 422    |     | 481       | 422       |",
        "| src17  | 1314 | 596   | 406    |     | 681       | 406       |",
        "| src18  | 1271 | 583   | 400    |     | 686       | 400       |",
        "| src19  | 1369 | 909   | 415    |     | 456       | 415       |",
        "| src2   | 1267 | 449   | 399    |     | 888       | 399       |",
        "| src3   | 1560 | 664   | 443    |     | 667       | 443       |",
        "| src4   | 1316 | 821   | 407    |     | 495       | 407       |",
        "| src5   | 1216 | 651   | 391    |     | 600       | 391       |",
        "| src6   | 1466 | 712   | 429    |     | 602       | 429       |",
        "| src7   | 1212 | 650   | 390    |     | 600       | 390       |",
        "| src8   | 1632 | 927   | 453    |     | 488       | 453       |",
        "| src9   | 1389 | 934   | 418    |     | 447       | 418       |",
        "+--------+------+-------+--------+-----+-----------+-----------+",
        "Mix plan finished, elapsed #s: budget 8381, allocated 8372, 0/20 sources saturated"),
      0 -> lines(
        "Embed finished, elapsed #s, 500 docs -> documents_emb (dim 8)"),
      0 -> lines(
        "compacted documents_emb: 1 -> 1 data files (target 128 MB)",
        "Compact finished, elapsed #s"),
      0 -> lines(
        "Diff manifest built at $OUT____________________________________________/diff: 500 documents digested",
        "Diff build finished, elapsed #s"),
      0 -> lines(
        "+-----------+------+--------+",
        "| Status    | Docs | Chars  |",
        "+-----------+------+--------+",
        "| unchanged | 500  | 153156 |",
        "+-----------+------+--------+",
        "Diff finished, elapsed #s"),
      0 -> lines(
        "Hist build finished, elapsed #s, batch -1 folded -> $OUT____________________________________________/hist",
        "+--------------+------+------------------------+",
        "| q (permille) | Rows | Estimate (milli-units) |",
        "+--------------+------+------------------------+",
        "| 500          | 1000 | 35600                  |",
        "| 900          | 1000 | 112000                 |",
        "| 990          | 1000 | 214000                 |",
        "| 999          | 1000 | 289000                 |",
        "+--------------+------+------------------------+"),
      1 -> lines(
        "k-anonymity (k=10):",
        "+-----------+---------+------+-----------+",
        "| ClassSize | Classes | Rows | Violating |",
        "+-----------+---------+------+-----------+",
        "| 3         | 2       | 6    | YES       |",
        "| 4         | 5       | 20   | YES       |",
        "| 5         | 7       | 35   | YES       |",
        "| 6         | 3       | 18   | YES       |",
        "| 7         | 3       | 21   | YES       |",
        "| 8         | 1       | 8    | YES       |",
        "| 9         | 2       | 18   | YES       |",
        "| 11        | 1       | 11   | no        |",
        "| 13        | 1       | 13   | no        |",
        "+-----------+---------+------+-----------+",
        "Audit finished, elapsed #s, 1 gate(s) violated"),
      0 -> lines(
        "+------+------+---------+",
        "| Docs | Kept | Dropped |",
        "+------+------+---------+",
        "| 500  | 217  | 283     |",
        "+------+------+---------+",
        "LM score finished, elapsed #s, kept 217/500 (tau 3.2, minCount 2) -> documents_lm"),
      0 -> lines(
        "+------+----------+",
        "| Lang | Selected |",
        "+------+----------+",
        "| en   | 5        |",
        "+------+----------+",
        "DSIR finished, elapsed #s, selected 5 docs toward lang=en -> documents_dsir"),
      0 -> lines(
        "+-------+------+------+--------+---------+-------------+",
        "| Shard | Docs | Seqs | Tokens | Util bp | Lower bound |",
        "+-------+------+------+--------+---------+-------------+",
        "| 0     | 265  | 8    | 14223  | 8681    | 7           |",
        "| 1     | 235  | 7    | 13716  | 9567    | 7           |",
        "+-------+------+------+--------+---------+-------------+",
        "Pack finished, elapsed #s, packed 500 docs (max seq 8, capacity 2048, 2 shards) -> documents_packed"),
      0 -> lines(
        "+----------------+------+",
        "| Stage          | Docs |",
        "+----------------+------+",
        "| incoming       | 500  |",
        "| host-dedup+cap | 500  |",
        "| dsir-select    | 500  |",
        "| rule-clean     | 500  |",
        "| dedup+gate     | 253  |",
        "| lm-gate        | 253  |",
        "| decontaminated | 253  |",
        "+----------------+------+",
        "Curate finished, elapsed #s, kept 253/500 -> documents_curated"),
      0 -> lines(
        "Seed vocab: 121 pieces (top-N plus single-char coverage) -> $OUT____________________________________________/seed",
        "Tokenize train finished, elapsed #s"),
      0 -> lines(
        "Index built at $OUT____________________________________________/idx: 500 documents signed",
        "Index build finished, elapsed #s"),
      0 -> lines(
        "+------------------------------------------------------+------+------------+--------------+",
        "| Index                                                | Docs | HotBuckets | Fingerprints |",
        "+------------------------------------------------------+------+------------+--------------+",
        "| $OUT____________________________________________/idx | 500  | 0          | 500          |",
        "+------------------------------------------------------+------+------------+--------------+",
        "Index compact finished, elapsed #s"),
      0 -> lines(
        "+-----------------------------------------------------+--------+----------+",
        "| Store                                               | Labels | Clusters |",
        "+-----------------------------------------------------+--------+----------+",
        "| $OUT____________________________________________/cc | 500    | 475      |",
        "+-----------------------------------------------------+--------+----------+",
        "CC build finished, elapsed #s"),
      0 -> lines(
        "+-----------------------------------------------------+--------+----------+-------------------+-------------+",
        "| Store                                               | Labels | Clusters | DocsInDupClusters | DupClusters |",
        "+-----------------------------------------------------+--------+----------+-------------------+-------------+",
        "| $OUT____________________________________________/cc | 500    | 475      | 47                | 22          |",
        "+-----------------------------------------------------+--------+----------+-------------------+-------------+",
        "+-----------+------+",
        "| Component | Size |",
        "+-----------+------+",
        "| 8         | 4    |",
        "| 0         | 3    |",
        "| 5         | 2    |",
        "+-----------+------+",
        "CC show finished, elapsed #s"),
      0 -> lines(
        "ANN index built at $OUT____________________________________________/ann: 500 vectors encoded",
        "ANN build finished, elapsed #s"),
      0 -> lines(
        "+-----+--------------+--------------------------------------------------------------+",
        "| Doc | Score (bm25) | Snippet                                                      |",
        "+-----+--------------+--------------------------------------------------------------+",
        "| 153 | 0.9222       | agg table group big line query order column window data batc |",
        "| 61  | 0.8775       | join stream a row part data data merge value window value va |",
        "| 76  | 0.8719       | big merge spark batch join group stream the customer sort st |",
        "+-----+--------------+--------------------------------------------------------------+",
        "Search finished, elapsed #s, 3 hits (bm25) for \"the data\""),
      0 -> lines(
        "create-table requires JDBC endpoints on both sides",
        "Table create finished, elapsed #s"),
      0 -> lines(
        "+------------------------------------------------------+--------+----------+-------+",
        "| Index                                                | Before | Appended | Total |",
        "+------------------------------------------------------+--------+----------+-------+",
        "| $OUT____________________________________________/ann | 500    | 0        | 500   |",
        "+------------------------------------------------------+--------+----------+-------+",
        "ANN append finished, elapsed #s"),
      0 -> lines(
        "+------------------------------------------------------+-------------+------------+",
        "| Index                                                | FilesBefore | FilesAfter |",
        "+------------------------------------------------------+-------------+------------+",
        "| $OUT____________________________________________/ann | 8           | 8          |",
        "+------------------------------------------------------+-------------+------------+",
        "ANN compact finished, elapsed #s"),
      0 -> lines(
        "+-----+-----------+",
        "| Id  | AdcDist   |",
        "+-----+-----------+",
        "| 7   | 10.990800 |",
        "| 76  | 11.129200 |",
        "| 218 | 11.129200 |",
        "+-----+-----------+",
        "ANN search finished, elapsed #s"),
      0 -> lines(
        "+----------+----------+------+---------+",
        "| Object   | Incoming | Kept | Dropped |",
        "+----------+----------+------+---------+",
        "| docs_inc | 500      | 0    | 500     |",
        "+----------+----------+------+---------+",
        "Index append finished, elapsed #s"),
      0 -> lines(
        "+-------------+------------+-----------+---------+",
        "| Object      | CorpusDocs | KeptTotal | Bloom   |",
        "+-------------+------------+-----------+---------+",
        "| docs_stream | 500        | 0         | sidecar |",
        "+-------------+------------+-----------+---------+",
        "Curate-stream finished, elapsed #s"),
      0 -> lines(
        "+-----------------------------------------------------+------------------+-------------+",
        "| Store                                               | BucketsRewritten | TotalLabels |",
        "+-----------------------------------------------------+------------------+-------------+",
        "| $OUT____________________________________________/cc | 0                | 500         |",
        "+-----------------------------------------------------+------------------+-------------+",
        "CC append finished, elapsed #s"),
      0 -> lines(
        "+-----------------------------------------------------+--------+---------------+--------------+",
        "| Store                                               | Labels | BucketsBefore | BucketsAfter |",
        "+-----------------------------------------------------+--------+---------------+--------------+",
        "| $OUT____________________________________________/cc | 500    | 64            | 4            |",
        "+-----------------------------------------------------+--------+---------------+--------------+",
        "CC compact finished, elapsed #s"),
      0 -> lines(
        "BPE merge table: 5 merges -> $OUT____________________________________________/bpe",
        "Tokenize train finished, elapsed #s"),
      0 -> lines(
        "Tokenized 500 documents (bpe) -> documents_tokens",
        "Tokenize apply finished, elapsed #s"),
      0 -> lines(
        "+-------+------+------+--------+---------+-------------+",
        "| Shard | Docs | Seqs | Tokens | Util bp | Lower bound |",
        "+-------+------+------+--------+---------+-------------+",
        "| 0     | 265  | 8    | 14223  | 8681    | 7           |",
        "| 1     | 235  | 7    | 13716  | 9567    | 7           |",
        "+-------+------+------+--------+---------+-------------+",
        "materialized sequences -> documents_sequences",
        "Pack finished, elapsed #s, packed 500 docs (max seq 8, capacity 2048, 2 shards) -> docs_p2"),
      0 -> lines(
        "+-----------+------+--------+",
        "| Status    | Docs | Chars  |",
        "+-----------+------+--------+",
        "| unchanged | 500  | 153156 |",
        "+-----------+------+--------+",
        "Manifest updated: 500 documents digested",
        "Diff finished, elapsed #s"),
      0 -> lines(
        "+--------------+-----+-------+---------+-----------+",
        "| Query        | Doc | RRF   | LexRank | DenseRank |",
        "+--------------+-----+-------+---------+-----------+",
        "| the data     | 153 | 32266 | 1       | 3         |",
        "| the data     | 61  | 31054 | 2       | 7         |",
        "| merge window | 222 | 30414 | 10      | 2         |",
        "| merge window | 288 | 30309 | 7       | 5         |",
        "+--------------+-----+-------+---------+-----------+",
        "Search finished, elapsed #s, 4 hits for 2 queries (hybrid batch)"))
    got.zip(expected).foreach { case (g, e) => assert(g == e) }
    assert(got.length == expected.length)
  }

  test("index build + append round-trip curates increments against the persisted index") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_idx_src").toString
    val outDir = Files.createTempDirectory("graft_idx_out").toString
    val idxDir = Files.createTempDirectory("graft_idx").toString + "/lsh"
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$srcDir
         |dest:
         |  url: parquet:$outDir
         |""".stripMargin)

    // the IncrementalDedupSpec fixture: corpus of 3, increment where 11
    // near-dups corpus doc 2, 2 re-ingests itself, 13 is novel
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (2L, base),
      (4L, "completely different corpus content about spark partitions and shuffles"),
      (6L, "yet another unrelated document speaking of benchmarks and latencies"))
      .toDF("doc_id", "text").write.parquet(s"$srcDir/corpus.parquet")
    Seq(
      (11L, base + " tonight"),
      (13L, "a wholly new document with nothing in common with the corpus at all"),
      (2L, base))
      .toDF("doc_id", "text").write.parquet(s"$srcDir/increment.parquet")

    assert(Main.run(Array("index", "build", "--table", "corpus",
      "--index", idxDir, "--threshold", "0.3", "--config", cfg), spark) == 0)
    assert(Main.run(Array("index", "append", "--table", "increment",
      "--into", "curated", "--index", idxDir, "--threshold", "0.3",
      "--config", cfg), spark) == 0)
    // survivor set matches IncrementalDedupSpec: only the novel doc 13
    val kept = spark.read.parquet(s"$outDir/curated.parquet")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(13L)), kept.mkString(","))

    // the fold: a later increment near-dupping ALREADY-INGESTED doc 13
    // must be dropped by the index (which only saw 13 via the fold)
    Seq(
      (21L, "a wholly new document with nothing in common with the corpus at all, right"),
      (23L, "entirely fresh prose concerning watermark semantics in stream joins"))
      .toDF("doc_id", "text").write.parquet(s"$srcDir/increment2.parquet")
    assert(Main.run(Array("index", "append", "--table", "increment2",
      "--into", "curated", "--index", idxDir, "--threshold", "0.3",
      "--config", cfg), spark) == 0)
    val kept2 = spark.read.parquet(s"$outDir/curated.parquet")
      .select("doc_id").as[Long].collect().sorted
    assert(kept2.sameElements(Array(13L, 23L)), kept2.mkString(","))

    // idempotence: replaying an increment adds nothing (fps guard)
    assert(Main.run(Array("index", "append", "--table", "increment",
      "--into", "curated", "--index", idxDir, "--threshold", "0.3",
      "--config", cfg), spark) == 0)
    val kept3 = spark.read.parquet(s"$outDir/curated.parquet")
      .select("doc_id").as[Long].collect().sorted
    assert(kept3.sameElements(Array(13L, 23L)), kept3.mkString(","))

    // compact: recompute hot from ACCUMULATED docs (build + folds).
    // With --max-bucket 0 every populated band bucket of the 5 signed
    // docs is over-cap, so the refreshed hot list must be non-empty —
    // proof the recompute saw the appended signatures, not the
    // build-time snapshot (whose hot list was empty at any cap)
    assert(Main.run(Array("index", "compact", "--index", idxDir,
      "--into", "curated", "--max-bucket", "0", "--config", cfg), spark) == 0)
    val hotAfter = spark.read.parquet(s"$idxDir/hot").count()
    assert(hotAfter > 0, "compact did not refresh the hot list")
    // and an append against the all-hot index still completes: every
    // bucket excluded -> no near-dup candidates -> novel docs land
    Seq((31L, "post compaction arrival mentioning gradient checkpoints"))
      .toDF("doc_id", "text").write.parquet(s"$srcDir/increment3.parquet")
    assert(Main.run(Array("index", "append", "--table", "increment3",
      "--into", "curated", "--index", idxDir, "--threshold", "0.3",
      "--config", cfg), spark) == 0)
    val kept4 = spark.read.parquet(s"$outDir/curated.parquet")
      .select("doc_id").as[Long].collect().sorted
    assert(kept4.sameElements(Array(13L, 23L, 31L)), kept4.mkString(","))
    // a normal-cap compact restores the empty hot list
    assert(Main.run(Array("index", "compact", "--index", idxDir,
      "--into", "curated", "--config", cfg), spark) == 0)
    assert(spark.read.parquet(s"$idxDir/hot").count() == 0)

    // malformed index invocation exits 2
    assert(Main.run(Array("index", "rebuild", "--config", cfg), spark) == 2)
  }

  test("media contain reports indexed images/clips inside frame tables") {
    import spark.implicits._
    import graft.operators.multimodal.{PerceptualAudio, PerceptualHash}
    val srcDir = Files.createTempDirectory("graft_contain_src").toString
    val imgIdx = Files.createTempDirectory("graft_contain_img").toString + "/idx"
    val audIdx = Files.createTempDirectory("graft_contain_aud").toString + "/idx"
    val outDir = Files.createTempDirectory("graft_contain_out").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$srcDir
         |dest:
         |  url: parquet:${Files.createTempDirectory("graft_contain_dst")}
         |""".stripMargin)

    // image leg: corpus {2, 4}; video 100 shows planted 2 (hit),
    // video 200 shows planted 999 — expectations derived brute-force
    // from the same kernels, so the assertions hold for ANY planted
    // hash geometry (the audio space is low-entropy by construction)
    val imgCorpus = Seq(2L, 4L); val frameEq = Seq((100L, 0, 2L), (200L, 0, 999L))
    imgCorpus.map(id => (id, PerceptualHash.plantedPng(id)))
      .toDF("id", "content").write.parquet(s"$srcDir/media.parquet")
    frameEq.map { case (v, f, eq) => (v, f, PerceptualHash.plantedPng(eq)) }
      .toDF("video_id", "frame_idx", "content")
      .write.parquet(s"$srcDir/frames.parquet")
    def dh(id: Long): Long = PerceptualHash.dHash64(PerceptualHash.plantedPng(id)).get
    // the admission index keeps ONE representative id per distinct
    // hash, so containment expectations derive from the index's own
    // representatives, not the raw corpus
    def indexed(idx: String): Seq[(Long, Long)] =
      spark.read.parquet(s"$idx/hashes").select("id", "dhash")
        .as[(Long, Long)].collect().toSeq
    assert(Main.run(Array("media", "build", "--table", "media",
      "--index", imgIdx, "--config", cfg), spark) == 0)
    val expectImg = (for {
      (i, h) <- indexed(imgIdx); (v, _, eq) <- frameEq
      if java.lang.Long.bitCount(h ^ dh(eq)) <= 3
    } yield (i, v)).toSet
    assert(expectImg.contains((2L, 100L)), "fixture lost its planted hit")
    assert(Main.run(Array("media", "contain", "--table", "frames",
      "--index", imgIdx, "--out", s"$outDir/img", "--config", cfg), spark) == 0)
    val gotImg = spark.read.parquet(s"$outDir/img")
      .select("image_id", "video_id").as[(Long, Long)].collect().toSet
    assert(gotImg == expectImg, s"image containment: $gotImg vs $expectImg")

    // audio leg: clip corpus {2, 4}; stream 100 carries planted 4,
    // stream 200 carries planted 777
    val clipCorpus = Seq(2L, 4L); val segEq = Seq((100L, 0, 4L), (200L, 0, 777L))
    clipCorpus.map(id => (id, PerceptualAudio.plantedWav(id)))
      .toDF("id", "content").write.parquet(s"$srcDir/clips.parquet")
    segEq.map { case (s, i, eq) => (s, i, PerceptualAudio.plantedWav(eq)) }
      .toDF("stream_id", "seg_idx", "content")
      .write.parquet(s"$srcDir/segments.parquet")
    def ah(id: Long): Long =
      PerceptualAudio.audioHash64(PerceptualAudio.plantedWav(id)).get
    assert(Main.run(Array("media", "build", "--audio", "--table", "clips",
      "--index", audIdx, "--config", cfg), spark) == 0)
    val expectAud = (for {
      (c, h) <- indexed(audIdx); (s, _, eq) <- segEq
      if java.lang.Long.bitCount(h ^ ah(eq)) <= 3
    } yield (c, s)).toSet
    assert(expectAud.exists(_._2 == 100L), "audio fixture lost its planted hit")
    assert(Main.run(Array("media", "contain", "--table", "segments",
      "--index", audIdx, "--stream-id", "stream_id", "--frame", "seg_idx",
      "--out", s"$outDir/aud", "--config", cfg), spark) == 0)
    val gotAud = spark.read.parquet(s"$outDir/aud")
      .select("clip_id", "stream_id").as[(Long, Long)].collect().toSet
    assert(gotAud == expectAud, s"audio containment: $gotAud vs $expectAud")

    // mode guard: an image-mode append into the audio index fails with
    // a usable message instead of silently poisoning the novelty guard
    val e = intercept[IllegalArgumentException] {
      Main.run(Array("media", "append", "--table", "media",
        "--index", audIdx, "--config", cfg), spark)
    }
    assert(e.getMessage.contains("'audio' mode"), e.getMessage)

    // wrong-TYPED id/frame columns fail with the column named, before
    // the decode kernels see them (round-15: the opaque cast/encoder
    // death had no usable message)
    Seq(("not-a-number", 0, Array[Byte](1)))
      .toDF("video_id", "frame_idx", "content")
      .write.parquet(s"$srcDir/badframes.parquet")
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out)) {
      Main.run(Array("media", "contain", "--table", "badframes",
        "--index", imgIdx, "--config", cfg), spark)
    }
    assert(rc == 2, s"wrong-typed column accepted (rc=$rc)")
    assert(out.toString.contains("video_id") &&
      out.toString.contains("non-numeric"), out.toString)
  }

  test("cc build + append + compact lifecycle maintains the label store") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_cc_src").toString
    val lshDir = Files.createTempDirectory("graft_cc_lsh").toString + "/lsh"
    val ccDir = Files.createTempDirectory("graft_cc_cli").toString + "/cc"
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$srcDir
         |dest:
         |  url: parquet:${Files.createTempDirectory("graft_cc_out")}
         |""".stripMargin)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (2L, base),
      (4L, "completely different corpus content about spark partitions and shuffles"),
      (6L, "yet another unrelated document speaking of benchmarks and latencies"))
      .toDF("doc_id", "text").write.parquet(s"$srcDir/corpus.parquet")
    // 11 near-dups corpus doc 2 (the new-old merge edge only the LSH
    // index can mine), 13 is novel, 2 re-ingests itself (replay row)
    Seq(
      (11L, base + " tonight"),
      (13L, "a wholly new document with nothing in common with the corpus at all"),
      (2L, base))
      .toDF("doc_id", "text").write.parquet(s"$srcDir/increment.parquet")

    assert(Main.run(Array("index", "build", "--table", "corpus",
      "--index", lshDir, "--threshold", "0.3", "--config", cfg), spark) == 0)
    assert(Main.run(Array("cc", "build", "--table", "corpus",
      "--store", ccDir, "--threshold", "0.3", "--buckets", "8",
      "--config", cfg), spark) == 0)
    def labels(): Map[Long, Long] = graft.operators.dedup.ConnectedComponents
      .readComponentsStore(spark, ccDir)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    assert(labels() == Map(2L -> 2L, 4L -> 4L, 6L -> 6L))

    // untouched buckets (components 4 and 6) must not be rewritten
    def listing(b: Long): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$ccDir/comp_bucket=$b")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before4 = listing(4L); val before6 = listing(6L)
    assert(before4.nonEmpty && before6.nonEmpty)
    assert(Main.run(Array("cc", "append", "--table", "increment",
      "--store", ccDir, "--index", lshDir, "--threshold", "0.3",
      "--config", cfg), spark) == 0)
    assert(labels() == Map(2L -> 2L, 4L -> 4L, 6L -> 6L, 11L -> 2L, 13L -> 13L))
    assert(listing(4L) == before4 && listing(6L) == before6,
      "append rewrote untouched buckets")

    // the store equals a full recompute over the union corpus
    val union = spark.read.parquet(s"$srcDir/corpus.parquet")
      .unionByName(spark.read.parquet(s"$srcDir/increment.parquet"))
      .dropDuplicates("doc_id")
    val p = graft.operators.dedup.MinHashLSH.Params(threshold = 0.3)
    val full = graft.operators.dedup.ConnectedComponents.components(
        graft.operators.dedup.MinHashLSH
          .candidatePairs(union, col("text"), col("doc_id"), p),
        "id_a", "id_b", union, "doc_id")(spark)
      .as[(Long, Long)].collect().toMap
    assert(labels() == full, s"store diverged from full recompute: ${labels()} vs $full")

    // compact re-buckets; labels unchanged; appends keep working
    assert(Main.run(Array("cc", "compact", "--store", ccDir,
      "--buckets", "4", "--config", cfg), spark) == 0)
    assert(graft.operators.dedup.ConnectedComponents
      .storeBuckets(spark, ccDir).contains(4))
    assert(labels() == full)

    // replaying the SAME increment is a no-op (ids already labeled)
    assert(Main.run(Array("cc", "append", "--table", "increment",
      "--store", ccDir, "--index", lshDir, "--threshold", "0.3",
      "--config", cfg), spark) == 0)
    assert(labels() == full)

    // show serves cluster structure from the store alone
    assert(Main.run(Array("cc", "show", "--store", ccDir, "--k", "3",
      "--config", cfg), spark) == 0)

    // appending into a missing store fails usably, not with a stack
    assert(Main.run(Array("cc", "append", "--table", "increment",
      "--store", s"$ccDir-nowhere", "--index", lshDir,
      "--config", cfg), spark) == 1)

    // malformed invocation exits 2
    assert(Main.run(Array("cc", "rebuild", "--config", cfg), spark) == 2)
  }

  test("curate --host-cap collapses re-crawls and caps per host first") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_hostcap_src").toString
    val outDir = Files.createTempDirectory("graft_hostcap_out").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$srcDir
         |dest:
         |  url: parquet:$outDir
         |""".stripMargin)
    // host A: doc 1 and its re-crawl 2 (identical bytes, collapses to
    // the lower id), plus the shorter doc 3 (capped out at cap 1 —
    // length is the stage's quality); host B: one doc
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "hostA"),
      (2L, "the quick brown fox jumps over the lazy dog again and again", "hostA"),
      (3L, "short survivor that loses the cap to its longer sibling", "hostA"),
      (4L, "an entirely different document about benchmark latencies now", "hostB"))
      .toDF("doc_id", "text", "source").write.parquet(s"$srcDir/docs.parquet")
    assert(Main.run(Array("curate", "--table", "docs", "--into", "kept",
      "--host-cap", "1", "--min-tokens", "1", "--threshold", "0.99",
      "--config", cfg), spark) == 0)
    val kept = spark.read.parquet(s"$outDir/kept.parquet")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 4L)), kept.mkString(","))
  }

  test("curate end-to-end via CLI: dedup funnel, rules, decontamination") {
    val out = Files.createTempDirectory("graft_cli_curate").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |maxParallel: 4
         |""".stripMargin)
    // plain curation: exact+near dedup and the token gate keep a
    // nonempty strict subset with the input schema intact
    assert(Main.run(Array("curate", "--table", "documents",
      "--into", "docs_clean", "--config", cfg), spark) == 0)
    val kept = spark.read.parquet(s"$out/docs_clean.parquet")
    val n = kept.count()
    assert(n > 0 && n < 500, s"unexpected survivor count $n")
    assert(kept.columns.toSet ==
      Set("doc_id", "text", "lang", "source", "n_chars"))
    // --bench against the corpus itself: every survivor shares its own
    // 8-grams -> full contamination funnels to zero, exit stays 0
    assert(Main.run(Array("curate", "--table", "documents",
      "--into", "docs_empty", "--bench", "documents", "--config", cfg),
      spark) == 0)
    assert(spark.read.parquet(s"$out/docs_empty.parquet").count() == 0)
    // --rules on the punctuation-free fixture removes every doc (the
    // C4 terminal-punct rule) without failing the run
    assert(Main.run(Array("curate", "--table", "documents",
      "--into", "docs_rules", "--rules", "--config", cfg), spark) == 0)
    assert(spark.read.parquet(s"$out/docs_rules.parquet").count() == 0)
  }

  test("curate --bench-fuzzy drops paraphrased leaks the exact pass misses") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_fuzzy_src").toString
    val out = Files.createTempDirectory("graft_fuzzy_out").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$srcDir
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    // 25 words; the benchmark paraphrase swaps every 7th word, so the
    // longest unchanged token run is 6 < 8 — ZERO shared 8-grams (the
    // exact pass is blind) while the 5-char shingle Jaccard stays high
    val words = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee").split(" ")
    val leak = words.mkString(" ")
    val para = words.zipWithIndex.map {
      case (_, i) if i % 7 == 3 => "swapped" + i
      case (w, _) => w
    }.mkString(" ")
    val clean = ("one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen " +
      "nineteen twenty twentyone twentytwo twentythree twentyfour twentyfive")
    Seq((1L, leak), (2L, clean)).toDF("doc_id", "text")
      .write.parquet(s"$srcDir/docs.parquet")
    Seq((100L, para)).toDF("doc_id", "text")
      .write.parquet(s"$srcDir/bench.parquet")
    // exact decon alone: no shared 8-gram, BOTH docs survive
    assert(Main.run(Array("curate", "--table", "docs",
      "--into", "docs_exact", "--bench", "bench", "--config", cfg),
      spark) == 0)
    val exactKept = spark.read.parquet(s"$out/docs_exact.parquet")
      .select("doc_id").as[Long].collect().sorted
    assert(exactKept.sameElements(Array(1L, 2L)),
      s"exact pass should miss the paraphrase: ${exactKept.mkString(",")}")
    // with the fuzzy leg, the paraphrased leak is dropped
    assert(Main.run(Array("curate", "--table", "docs",
      "--into", "docs_fuzzy", "--bench", "bench", "--bench-fuzzy",
      "--config", cfg), spark) == 0)
    val fuzzyKept = spark.read.parquet(s"$out/docs_fuzzy.parquet")
      .select("doc_id").as[Long].collect().sorted
    assert(fuzzyKept.sameElements(Array(2L)),
      s"fuzzy pass should drop the paraphrase: ${fuzzyKept.mkString(",")}")
  }

  test("mix plans a capped allocation and writes the plan table") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_mix_out").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    assert(Main.run(Array("mix", "--table", "documents", "--budget", "5000",
      "--into", "mix_plan", "--config", cfg), spark) == 0)
    val plan = spark.read.parquet(s"$out/mix_plan.parquet")
    assert(plan.columns.toSet == Set("source", "raw_tokens", "avail_tokens",
      "target_tokens", "saturated", "epochs_milli", "effective_tokens"))
    val targets = plan.select("target_tokens").as[Long].collect()
    assert(targets.sum <= 5000L, s"allocated ${targets.sum} over budget")
    // every allocation respects its availability cap
    val over = plan.filter(
      org.apache.spark.sql.functions.col("target_tokens") >
        org.apache.spark.sql.functions.col("avail_tokens")).count()
    assert(over == 0, s"$over sources allocated past their cap")
  }

  test("compact collapses a fragmented table without changing content") {
    val dir = Files.createTempDirectory("graft_cli_compact").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.repartition(37).write.parquet(s"$dir/documents.parquet")
    def files() = new java.io.File(s"$dir/documents.parquet")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files() == 37)
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$dir
         |dest:
         |  url: parquet:$dir
         |""".stripMargin)
    assert(Main.run(Array("compact", "--table", "documents",
      "--target-mb", "128", "--config", cfg), spark) == 0)
    assert(files() == 1, s"expected 1 file after compact, got ${files()}")
    val after = spark.read.parquet(s"$dir/documents.parquet")
    assert(after.exceptAll(docs).isEmpty && docs.exceptAll(after).isEmpty,
      "compact changed table content")
    // delivery formats are refused up front
    val csvCfg = writeCfg(
      s"""src:
         |  url: csv:$dir
         |dest:
         |  url: csv:$dir
         |""".stripMargin)
    assert(Main.run(Array("compact", "--table", "documents",
      "--config", csvCfg), spark) == 1)
  }

  test("pack assigns every doc, honors capacity, and materializes sequences") {
    import org.apache.spark.sql.functions.{col, sum}
    val out = Files.createTempDirectory("graft_cli_pack").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    assert(Main.run(Array("pack", "--table", "documents",
      "--capacity", "256", "--shards", "4", "--materialize",
      "--config", cfg), spark) == 0)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val asg = spark.read.parquet(s"$out/documents_packed.parquet")
    assert(asg.count() == docs.count(), "a document was dropped")
    // no sequence over capacity
    assert(asg.groupBy("shard", "seq").agg(sum("len").as("t"))
      .where(col("t") > 256).count() == 0L)
    val seqs = spark.read.parquet(s"$out/documents_sequences.parquet")
    assert(seqs.columns.toSet ==
      Set("shard", "seq", "text", "n_docs", "seq_tokens"))
    // sequence rows match assignment groups, doc counts conserve
    assert(seqs.count() ==
      asg.select("shard", "seq").distinct().count())
    assert(seqs.agg(sum("n_docs")).head.getLong(0) == docs.count())
  }

  test("pack --append continues the persisted packing prefix-stably") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_cli_packa_src").toString
    val out = Files.createTempDirectory("graft_cli_packa").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.filter(col("doc_id") < 250).write.parquet(s"$src/d1.parquet")
    docs.filter(col("doc_id") >= 250).write.parquet(s"$src/d2.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    assert(Main.run(Array("pack", "--table", "d1", "--into", "packed",
      "--capacity", "256", "--shards", "4", "--config", cfg), spark) == 0)
    assert(Main.run(Array("pack", "--table", "d2", "--into", "packed",
      "--append", "--capacity", "256", "--shards", "4", "--config", cfg),
      spark) == 0)
    val combined = spark.read.parquet(s"$out/packed.parquet")
    val oneShot = graft.operators.text.SequencePack.assign(
      docs, col("text"), col("doc_id"), capacity = 256, shards = 4)
    assert(combined.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(combined).isEmpty,
      "CLI append diverges from a one-shot repack")
    // --append --materialize is refused (partial sequence text)
    assert(Main.run(Array("pack", "--table", "d2", "--into", "packed",
      "--append", "--materialize", "--config", cfg), spark) == 1)
    // --append into a delivery-format destination is refused up front
    // (it reads the destination back through schema inference)
    val csvCfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: csv:$out
         |""".stripMargin)
    assert(Main.run(Array("pack", "--table", "d2", "--into", "packed",
      "--append", "--config", csvCfg), spark) == 1)
  }

  test("diff verb: manifest build + against + update lifecycle") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val src = Files.createTempDirectory("graft_cli_diff_src").toString
    val idx = Files.createTempDirectory("graft_cli_diff").toString + "/diff"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.write.parquet(s"$src/v1.parquet")
    // v2: drop ids % 7, edit ids % 11
    docs.where(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .write.parquet(s"$src/v2.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$src
         |""".stripMargin)
    // against before build: usage hint, rc 1
    assert(Main.run(Array("diff", "against", "--table", "v2",
      "--index", idx, "--config", cfg), spark) == 1)
    assert(Main.run(Array("diff", "build", "--table", "v1",
      "--index", idx, "--config", cfg), spark) == 0)
    // the summary is computed against the persisted manifest alone —
    // re-derive the expected counts here
    val sum = graft.operators.dedup.CorpusDiff.diffAgainstManifest(
        spark.read.parquet(s"$src/v2.parquet"),
        col("doc_id"), col("text"), idx)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum("removed") == docs.where(col("doc_id") % 7 === 0).count())
    assert(sum("changed") ==
      docs.where(col("doc_id") % 11 === 0 && col("doc_id") % 7 =!= 0).count())
    assert(!sum.contains("added"))
    assert(Main.run(Array("diff", "against", "--table", "v2",
      "--index", idx, "--update", "--config", cfg), spark) == 0)
    // after --update the manifest IS v2: diffing v2 again is all-unchanged
    val again = graft.operators.dedup.CorpusDiff.diffAgainstManifest(
        spark.read.parquet(s"$src/v2.parquet"),
        col("doc_id"), col("text"), idx)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again.keySet == Set("unchanged"), again.toString)
    assert(Main.run(Array("diff", "frobnicate",
      "--config", cfg), spark) == 2)
  }

  test("diff verb: BinaryType content digests raw bytes (invalid UTF-8 safe)") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_cli_diff_bin").toString
    val idx = Files.createTempDirectory("graft_cli_diffb").toString + "/diff"
    import spark.implicits._
    // payloads carry invalid-UTF8 bytes (0xFF lead, lone 0xC3); v2
    // changes doc 2's bytes INSIDE the invalid region and leaves doc 1
    // alone — a string-collapsing digest could report both unchanged
    val v1 = Seq(
      (1L, Array[Byte](0x61, 0xC3.toByte, 0xA9.toByte)),        // "aé" – 3 bytes, 2 chars
      (2L, Array[Byte](0xFF.toByte, 0xC3.toByte, 0x01))).toDF("doc_id", "payload")
    val v2 = Seq(
      (1L, Array[Byte](0x61, 0xC3.toByte, 0xA9.toByte)),
      (2L, Array[Byte](0xFF.toByte, 0xC2.toByte, 0x01))).toDF("doc_id", "payload")
    v1.write.parquet(s"$src/b1.parquet")
    v2.write.parquet(s"$src/b2.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$src
         |""".stripMargin)
    assert(Main.run(Array("diff", "build", "--table", "b1", "--index", idx,
      "--id", "doc_id", "--text", "payload", "--config", cfg), spark) == 0)
    assert(Main.run(Array("diff", "against", "--table", "b2", "--index", idx,
      "--id", "doc_id", "--text", "payload", "--config", cfg), spark) == 0)
    val sum = graft.operators.dedup.CorpusDiff.diffAgainstManifest(
        spark.read.parquet(s"$src/b2.parquet"),
        col("doc_id"), col("payload"), idx)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(sum("changed") == ((1L, 3L)), s"byte-level change missed: $sum")
    // n_chars for binary content counts BYTES (3 for "aé"), not chars
    assert(sum("unchanged") == ((1L, 3L)), s"byte sizing wrong: $sum")
    assert(!sum.contains("added") && !sum.contains("removed"))
  }

  test("profile verb: exact, sketch, and skew faces") {
    val src = Files.createTempDirectory("graft_cli_profile").toString
    spark.read.parquet(s"$sf0001/events.parquet")
      .write.parquet(s"$src/ev.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$src
         |""".stripMargin)
    assert(Main.run(Array("profile", "--table", "ev",
      "--config", cfg), spark) == 0)
    assert(Main.run(Array("profile", "--table", "ev", "--sketch",
      "--config", cfg), spark) == 0)
    assert(Main.run(Array("profile", "--table", "ev", "--key", "user_id",
      "--top", "5", "--target", "3", "--config", cfg), spark) == 0)
  }

  test("hll build + append + show lifecycle; replays cost nothing") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_cli_hll_src").toString
    val idx = Files.createTempDirectory("graft_cli_hll").toString + "/hll"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.filter(col("doc_id") < 250).write.parquet(s"$src/d1.parquet")
    docs.filter(col("doc_id") >= 250).write.parquet(s"$src/d2.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$src
         |""".stripMargin)
    assert(Main.run(Array("hll", "build", "--table", "d1",
      "--index", idx, "--config", cfg), spark) == 0)
    assert(Main.run(Array("hll", "append", "--table", "d2",
      "--index", idx, "--config", cfg), spark) == 0)
    // replaying an already-folded increment must not change registers
    val before = spark.read.parquet(s"$idx/registers").collect().toSet
    assert(Main.run(Array("hll", "append", "--table", "d2",
      "--index", idx, "--config", cfg), spark) == 0)
    assert(spark.read.parquet(s"$idx/registers").collect().toSet == before)
    assert(Main.run(Array("hll", "show",
      "--index", idx, "--config", cfg), spark) == 0)
    assert(Main.run(Array("hll", "frobnicate",
      "--index", idx, "--config", cfg), spark) == 2)
    // a missing sidecar is a usage hint + rc 1, not a raw
    // AnalysisException (r11 advice; `hist show` is the template)
    val missing = Files.createTempDirectory("graft_cli_hll_none").toString + "/nope"
    assert(Main.run(Array("hll", "show",
      "--index", missing, "--config", cfg), spark) == 1)
    // the folded sidecar equals a one-shot fold of the whole corpus
    val whole = graft.operators.text.PortableHll.registers(
      docs.select(col("source"),
        org.apache.spark.sql.functions.explode(
          graft.operators.text.PortableHll.grams(col("text"))).as("term")),
      col("term"), Seq("source")).collect().toSet
    assert(before == whole, "CLI folds diverge from the one-shot sketch")
  }

  test("pack on an empty table reports cleanly instead of crashing") {
    val src = Files.createTempDirectory("graft_cli_packe_src").toString
    val out = Files.createTempDirectory("graft_cli_packe").toString
    spark.read.parquet(s"$sf0001/documents.parquet").limit(0)
      .write.parquet(s"$src/empty_docs.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    assert(Main.run(Array("pack", "--table", "empty_docs",
      "--config", cfg), spark) == 0)
    assert(spark.read.parquet(s"$out/empty_docs_packed.parquet").count() == 0)
  }

  test("ann build + append + search lifecycle over the persisted IVFxPQ index") {
    import org.apache.spark.sql.functions.col
    val srcDir = Files.createTempDirectory("graft_ann_src").toString
    val idxDir = Files.createTempDirectory("graft_ann_idx").toString + "/ivfpq"
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$srcDir
         |dest:
         |  url: parquet:$srcDir
         |""".stripMargin)
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    emb.filter(col("vec_id") % 2 === 0)
      .write.parquet(s"$srcDir/vec_base.parquet")
    emb.filter(col("vec_id") % 2 === 1)
      .write.parquet(s"$srcDir/vec_inc.parquet")
    emb.write.parquet(s"$srcDir/embeddings.parquet")

    assert(Main.run(Array("ann", "build", "--table", "vec_base",
      "--index", idxDir, "--config", cfg), spark) == 0)
    assert(Main.run(Array("ann", "append", "--table", "vec_inc",
      "--index", idxDir, "--config", cfg), spark) == 0)
    // replay: appending the same increment again adds nothing
    val n = spark.read.parquet(s"$idxDir/codes").count()
    assert(Main.run(Array("ann", "append", "--table", "vec_inc",
      "--index", idxDir, "--config", cfg), spark) == 0)
    assert(spark.read.parquet(s"$idxDir/codes").count() == n)
    assert(n == emb.count())
    assert(Main.run(Array("ann", "search", "--index", idxDir,
      "--probe-id", "0", "--config", cfg), spark) == 0)
    // a missing probe id is a usable error, not a stack trace
    assert(Main.run(Array("ann", "search", "--index", idxDir,
      "--probe-id", "999999", "--config", cfg), spark) == 1)
    // batch search from a probe FILE (the distributed qs27 path):
    // 3 probes, one result table with k rows per probe
    val probeFile = s"$srcDir/probes.parquet"
    emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
      .write.parquet(probeFile)
    val outDir = Files.createTempDirectory("graft_ann_out").toString + "/hits"
    assert(Main.run(Array("ann", "search", "--index", idxDir,
      "--probe-file", probeFile, "--k", "5", "--out", outDir,
      "--config", cfg), spark) == 0)
    val hits = spark.read.parquet(outDir)
    assert(hits.count() == 15L, "3 probes x k=5 result rows")
    assert(hits.select("probe_id").distinct().count() == 3L)
    // printed (no --out) variant also works
    assert(Main.run(Array("ann", "search", "--index", idxDir,
      "--probe-file", probeFile, "--k", "2", "--config", cfg), spark) == 0)
    // compact the appended files; search still answers identically
    assert(Main.run(Array("ann", "compact", "--index", idxDir,
      "--config", cfg), spark) == 0)
    assert(Main.run(Array("ann", "search", "--index", idxDir,
      "--probe-id", "0", "--config", cfg), spark) == 0)
    assert(spark.read.parquet(s"$idxDir/codes").count() == n)
    // bad usage exits 2
    assert(Main.run(Array("ann", "build", "--config", cfg), spark) == 2)
  }

  test("create-table --views replays view DDL onto the target (S13)") {
    val srcUrl = "jdbc:derby:memory:cliviewsrc;create=true"
    val dstUrl = "jdbc:derby:memory:cliviewdst;create=true"
    val src = new graft.catalog.JdbcCatalog(graft.config.Endpoint(srcUrl))
    graft.sync.DdlReplay.replay(src, Seq(
      "CREATE TABLE vt_base (id INT NOT NULL PRIMARY KEY, v VARCHAR(16))",
      "INSERT INTO vt_base VALUES (1, 'a')",
      "CREATE VIEW vt_view AS SELECT id, UPPER(v) AS vv FROM vt_base",
      // a 3-level chain whose alphabetical discovery order is INVERTED
      // (a <- b <- c): one retry pass can't build it, the loop must
      "CREATE VIEW vw_c AS SELECT id FROM vt_base",
      "CREATE VIEW vw_b AS SELECT id FROM vw_c",
      "CREATE VIEW vw_a AS SELECT id FROM vw_b"))
    val cfg = writeCfg(
      s"""src:
         |  url: $srcUrl
         |dest:
         |  url: $dstUrl
         |""".stripMargin)
    assert(Main.run(Array("create-table", "--views", "--config", cfg), spark) == 0)
    val dst = new graft.catalog.JdbcCatalog(graft.config.Endpoint(dstUrl))
    assert(dst.listViews().contains("vt_view"))
    assert(Seq("vw_a", "vw_b", "vw_c").forall(dst.listViews().contains),
      s"inverted 3-level view chain not fully replayed: ${dst.listViews()}")
    dst.execute("INSERT INTO vt_base VALUES (9, 'z')")
    assert(dst.rowCount(spark, "vt_view") == 1,
      "replayed view must read the target's own base table")
  }

  test("tokenize train + apply lifecycle (unigram, minseg, bpe)") {
    import org.apache.spark.sql.functions.col
    val outDir = Files.createTempDirectory("graft_tok_out").toString
    val uniDir = Files.createTempDirectory("graft_tok").toString + "/uni"
    val seedDir = Files.createTempDirectory("graft_tok").toString + "/seed"
    val bpeDir = Files.createTempDirectory("graft_tok").toString + "/bpe"
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$outDir
         |""".stripMargin)

    // train all three vocab artifacts off the fixture corpus
    assert(Main.run(Array("tokenize", "train", "--algo", "unigram",
      "--out", uniDir, "--vocab-size", "60", "--seed-size", "100",
      "--config", cfg), spark) == 0)
    assert(Main.run(Array("tokenize", "train", "--algo", "seed",
      "--out", seedDir, "--seed-size", "80", "--config", cfg), spark) == 0)
    assert(Main.run(Array("tokenize", "train", "--algo", "bpe",
      "--out", bpeDir, "--merges", "5", "--config", cfg), spark) == 0)
    assert(spark.read.parquet(uniDir).columns.toSet == Set("piece", "score"))
    assert(spark.read.parquet(bpeDir).count() == 5)

    // apply each; outputs land as (id, n_pieces, pieces) tables
    assert(Main.run(Array("tokenize", "apply", "--algo", "unigram",
      "--vocab", uniDir, "--into", "uni_toks", "--config", cfg), spark) == 0)
    assert(Main.run(Array("tokenize", "apply", "--algo", "minseg",
      "--vocab", seedDir, "--into", "seed_toks", "--config", cfg), spark) == 0)
    assert(Main.run(Array("tokenize", "apply", "--algo", "bpe",
      "--vocab", bpeDir, "--into", "bpe_toks", "--config", cfg), spark) == 0)
    val uni = spark.read.parquet(s"$outDir/uni_toks.parquet")
    assert(uni.count() == 500)
    // coverage: every document segments (unigram seeds all chars)
    assert(uni.filter(col("n_pieces") === 0).count() == 0)

    // usable errors: missing --vocab, wrong-shape vocab, unknown algo
    assert(Main.run(Array("tokenize", "apply", "--algo", "unigram",
      "--config", cfg), spark) == 2)
    assert(Main.run(Array("tokenize", "apply", "--algo", "minseg",
      "--vocab", uniDir, "--config", cfg), spark) == 2)
    assert(Main.run(Array("tokenize", "apply", "--algo", "nope",
      "--vocab", uniDir, "--config", cfg), spark) == 2)
    assert(Main.run(Array("tokenize", "train", "--algo", "unigram",
      "--config", cfg), spark) == 2)
    assert(Main.run(Array("tokenize"), spark) == 2)
  }

  test("card writes the per-source dataset card and rejects shapeless tables") {
    val outDir = Files.createTempDirectory("graft_card_out").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$outDir
         |""".stripMargin)
    assert(Main.run(Array("card", "--config", cfg), spark) == 0)
    val card = spark.read.parquet(s"$outDir/documents_card.parquet")
    assert(card.columns.contains("dup_rate") && card.count() > 0)
    // events has no text/source/lang -> usable error, exit 2
    assert(Main.run(Array("card", "--table", "events", "--config", cfg), spark) == 2)
  }

  test("media build + append admit only perceptually-novel images") {
    import spark.implicits._
    import graft.operators.multimodal.PerceptualHash
    val srcDir = Files.createTempDirectory("graft_media_src").toString
    val outDir = Files.createTempDirectory("graft_media_out").toString
    val idxDir = Files.createTempDirectory("graft_media_idx").toString + "/ph"
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$srcDir
         |dest:
         |  url: parquet:$outDir
         |""".stripMargin)
    def png(ids: Seq[Long]) = ids.toDF("id").as[Long]
      .mapPartitions(_.map(id => (id, PerceptualHash.plantedPng(id))))
      .toDF("id", "content")
    png(Seq(0L, 2L, 4L)).write.parquet(s"$srcDir/corpus.parquet")
    // 1 near-dups 0, 0 replays, 100 is novel
    png(Seq(1L, 0L, 100L)).write.parquet(s"$srcDir/increment.parquet")

    assert(Main.run(Array("media", "build", "--table", "corpus",
      "--index", idxDir, "--config", cfg), spark) == 0)
    assert(Main.run(Array("media", "append", "--table", "increment",
      "--index", idxDir, "--into", "admitted", "--config", cfg), spark) == 0)
    val landed = spark.read.parquet(s"$outDir/admitted.parquet")
      .select("id").as[Long].collect().toSet
    assert(landed == Set(100L), s"sink holds $landed")
    // usable error on a shapeless table, and usage on bad subcommand
    png(Seq(9L)).select(org.apache.spark.sql.functions.col("id"))
      .write.parquet(s"$srcDir/noimg.parquet")
    assert(Main.run(Array("media", "build", "--table", "noimg",
      "--index", idxDir, "--config", cfg), spark) == 2)
    assert(Main.run(Array("media", "frob", "--config", cfg), spark) == 2)
    // --max-hamming beyond the banded-recall bound: usable error, not
    // admitBatch's require() stack trace; the boundary value is fine
    assert(Main.run(Array("media", "append", "--table", "increment",
      "--index", idxDir, "--max-hamming", "4", "--config", cfg), spark) == 2)
    assert(Main.run(Array("media", "append", "--table", "increment",
      "--index", idxDir, "--max-hamming", "3", "--config", cfg), spark) == 0)
  }

  test("media search finds a planted near-dup and cleanly misses a stranger") {
    import spark.implicits._
    import graft.operators.multimodal.PerceptualHash
    val srcDir = Files.createTempDirectory("graft_msrch_src").toString
    val idxDir = Files.createTempDirectory("graft_msrch_idx").toString + "/ph"
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$srcDir
         |dest:
         |  url: parquet:$srcDir
         |""".stripMargin)
    Seq(0L, 2L, 4L).toDF("id").as[Long]
      .mapPartitions(_.map(id => (id, PerceptualHash.plantedPng(id))))
      .toDF("id", "content")
      .write.parquet(s"$srcDir/corpus.parquet")
    assert(Main.run(Array("media", "build", "--table", "corpus",
      "--index", idxDir, "--config", cfg), spark) == 0)
    // planted near-dup: 1 shares 0's pixel group (small Hamming)
    val hitFile = Files.createTempFile("graft_msrch_hit", ".png")
    Files.write(hitFile, PerceptualHash.plantedPng(1L))
    val hits = graft.streaming.MediaIngest.searchIndex(
      spark, idxDir, PerceptualHash.plantedPng(1L)).get
    assert(hits.select("id").as[Long].collect().contains(0L),
      "planted near-dup did not surface its group representative")
    assert(Main.run(Array("media", "search", "--index", idxDir,
      "--file", hitFile.toString, "--config", cfg), spark) == 0)
    // clean miss: an id whose hash is far from every indexed one
    val indexed = spark.read.parquet(s"$idxDir/hashes")
      .select("dhash").as[Long].collect().toSet
    val farId = (30L to 200L by 2).find { i =>
      val h = PerceptualHash.dHash64(PerceptualHash.plantedPng(i)).get
      indexed.forall(e => java.lang.Long.bitCount(e ^ h) > 3)
    }.get
    val missFile = Files.createTempFile("graft_msrch_miss", ".png")
    Files.write(missFile, PerceptualHash.plantedPng(farId))
    assert(graft.streaming.MediaIngest.searchIndex(
      spark, idxDir, PerceptualHash.plantedPng(farId)).get.isEmpty,
      "stranger payload surfaced neighbors")
    assert(Main.run(Array("media", "search", "--index", idxDir,
      "--file", missFile.toString, "--config", cfg), spark) == 0)
    // undecodable payload: usable error, exit 1; missing --file: usage
    val junkFile = Files.createTempFile("graft_msrch_junk", ".bin")
    Files.write(junkFile, Array[Byte](1, 2, 3))
    assert(Main.run(Array("media", "search", "--index", idxDir,
      "--file", junkFile.toString, "--config", cfg), spark) == 1)
    assert(Main.run(Array("media", "search", "--index", idxDir,
      "--config", cfg), spark) == 2)
  }

  test("csv and json sources sync through the same CLI surface") {
    import spark.implicits._
    val csvDir = Files.createTempDirectory("graft_csv_src").toString
    val jsonDir = Files.createTempDirectory("graft_json_src").toString
    val outDir = Files.createTempDirectory("graft_file_out").toString
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "name")
      .coalesce(1).write.option("header", "true").csv(s"$csvDir/people.csv")
    Seq((10L, 1.5), (20L, 2.5)).toDF("k", "v")
      .coalesce(1).write.json(s"$jsonDir/metrics.json")

    val csvCfg = writeCfg(
      s"""src:
         |  url: csv:$csvDir
         |dest:
         |  url: parquet:$outDir
         |""".stripMargin)
    assert(Main.run(Array("sync", "--config", csvCfg), spark) == 0)
    assert(spark.read.parquet(s"$outDir/people.parquet").count() == 3)

    val jsonCfg = writeCfg(
      s"""src:
         |  url: json:$jsonDir
         |dest:
         |  url: parquet:$outDir
         |""".stripMargin)
    assert(Main.run(Array("sync", "--config", jsonCfg), spark) == 0)
    assert(spark.read.parquet(s"$outDir/metrics.parquet")
      .select("k").as[Long].collect().toSet == Set(10L, 20L))

    // jsonl DESTINATION: curate ships its output as JSON-lines directly
    val jlOut = Files.createTempDirectory("graft_jl_out").toString
    val jlCfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: json:$jlOut
         |exclude: lineitem orders events embeddings part customer supplier region nation
         |""".stripMargin)
    assert(Main.run(Array("curate", "--table", "documents",
      "--into", "docs_clean", "--config", jlCfg), spark) == 0)
    val jl = spark.read.json(s"$jlOut/docs_clean.json")
    assert(jl.count() > 0 && jl.columns.contains("text"))

    // csv DESTINATION and orc BOTH directions round-trip through sync
    val csvOut = Files.createTempDirectory("graft_csv_out").toString
    assert(Main.run(Array("sync", "--config", writeCfg(
      s"""src:
         |  url: csv:$csvDir
         |dest:
         |  url: csv:$csvOut
         |""".stripMargin)), spark) == 0)
    assert(spark.read.option("header", "true").csv(s"$csvOut/people.csv").count() == 3)
    val orcDir = Files.createTempDirectory("graft_orc_src").toString
    val orcOut = Files.createTempDirectory("graft_orc_out").toString
    Seq((7L, "x"), (8L, "y")).toDF("id", "name")
      .write.orc(s"$orcDir/pairs.orc")
    assert(Main.run(Array("sync", "--config", writeCfg(
      s"""src:
         |  url: orc:$orcDir
         |dest:
         |  url: orc:$orcOut
         |""".stripMargin)), spark) == 0)
    assert(spark.read.orc(s"$orcOut/pairs.orc").count() == 2)

    // create-table refuses file-scheme destinations with the friendly
    // message instead of a JDBC driver stack trace
    assert(Main.run(Array("create-table", "--config", jlCfg), spark) == 0)
  }

  test("unknown command exits 2") {
    assert(Main.run(Array("frobnicate"), spark) == 2)
    // the usage line names every command the dispatcher accepts
    val (rc, usage) = captured("frobnicate")
    assert(rc == 2)
    Seq("sync", "compare", "create-table", "index", "curate", "curate-stream",
      "pack", "diff", "profile", "hll", "lm", "dsir", "audit", "embed",
      "search", "hist", "compact", "ann", "media", "cc", "card", "tokenize",
      "mix", "version").foreach { c =>
      assert(s"(?<![\\w-])$c(?![\\w-])".r.findFirstIn(usage).isDefined,
        s"usage omits '$c': $usage")
    }
    Seq("cc <build|append|compact|show>", "--schema", "--freshness").foreach { c =>
      assert(usage.contains(c), s"usage omits '$c': $usage")
    }
  }

  test("lm rejects an unknown subcommand before reading its table") {
    val src = Files.createTempDirectory("graft_cli_lm_bare").toString
    spark.range(3).write.parquet(s"$src/other.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$src
         |""".stripMargin)
    // no `documents` table: the usage error must come before any read
    assert(Main.run(Array("lm", "frobnicate", "--config", cfg), spark) == 2)
  }

  test("lm score + coverage via CLI: gate table written, verdicts match the operator") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_cli_lm").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    assert(Main.run(Array("lm", "score", "--table", "documents",
      "--tau", "3.2", "--into", "docs_lm", "--config", cfg), spark) == 0)
    val written = spark.read.parquet(s"$out/docs_lm.parquet")
    val direct = graft.operators.text.BackoffLm.score(
      spark.read.parquet(s"$sf0001/documents.parquet"),
      col("text"), col("doc_id"), alpha = 0.4, tau = 3.2, minCount = 2)
    assert(written.exceptAll(direct).isEmpty && direct.exceptAll(written).isEmpty,
      "CLI-written gate table diverges from the operator")
    assert(Main.run(Array("lm", "coverage", "--table", "documents",
      "--config", cfg), spark) == 0)
    assert(Main.run(Array("lm", "frobnicate", "--config", cfg), spark) == 2)
  }

  test("dsir via CLI: selected docs written, selection is the top-k by weight") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_cli_dsir").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    assert(Main.run(Array("dsir", "--table", "documents",
      "--target-lang", "en", "--k", "40", "--into", "docs_dsir",
      "--config", cfg), spark) == 0)
    val written = spark.read.parquet(s"$out/docs_dsir.parquet")
    assert(written.count() == 40)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val expect = graft.operators.text.ImportanceResample.weights(
        docs, col("text"), col("doc_id"), col("lang") === "en", 1024, 1L)
      .orderBy(col("lr_micro").desc, col("id")).limit(40)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val got = written.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect, "CLI selection diverges from the operator's top-k")
    // the selection leans hard into the target language
    val enShare = written.where(col("lang") === "en").count().toDouble / 40
    assert(enShare > 0.5, s"en share $enShare")

    // the cross-corpus form: with the en slice staged as a SEPARATE
    // target table, the selection is identical (the algebraic
    // equivalence, exercised through the CLI)
    val tgt = Files.createTempDirectory("graft_cli_dsir_t").toString
    docs.where(col("lang") === "en").write.parquet(s"$tgt/wiki.parquet")
    val cfg2 = writeCfg(
      s"""src:
         |  url: parquet:$tgt
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    docs.write.parquet(s"$tgt/raw.parquet")
    assert(Main.run(Array("dsir", "--table", "raw",
      "--target-table", "wiki", "--k", "40", "--into", "docs_dsir2",
      "--config", cfg2), spark) == 0)
    val got2 = spark.read.parquet(s"$out/docs_dsir2.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got2 == expect, "cross-corpus CLI selection diverges")
  }

  test("hist build + append + show lifecycle; replayed appends are refused by the ledger") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_cli_hist_src").toString
    val idx = Files.createTempDirectory("graft_cli_hist").toString + "/hist"
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "value")
    ev.filter(col("event_id") < 500).write.parquet(s"$src/e1.parquet")
    ev.filter(col("event_id") >= 500).write.parquet(s"$src/e2.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$src
         |""".stripMargin)
    assert(Main.run(Array("hist", "build", "--table", "e1",
      "--index", idx, "--config", cfg), spark) == 0)
    assert(Main.run(Array("hist", "append", "--table", "e2",
      "--index", idx, "--config", cfg), spark) == 0)
    assert(Main.run(Array("hist", "show", "--index", idx,
      "--q", "500,990", "--config", cfg), spark) == 0)
    assert(Main.run(Array("hist", "frobnicate",
      "--index", idx, "--config", cfg), spark) == 2)
    // two CLI folds equal ONE one-shot histogram of the whole table
    val whole = graft.operators.PortableHistogram.histogram(
        ev, col("value"), 3)
      .as[(Long, Long)](org.apache.spark.sql.Encoders.product[(Long, Long)])
      .collect().toMap
    val folded = graft.streaming.HistogramIngest.sketch(spark, idx)
      .as[(Long, Long)](org.apache.spark.sql.Encoders.product[(Long, Long)])
      .collect().toMap
    assert(folded == whole, "CLI folds diverge from the one-shot histogram")
  }

  test("search via CLI: all three modes rank a planted document first") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val src = Files.createTempDirectory("graft_cli_search").toString
    // one doc owns the query vocabulary; the rest are unrelated
    (Seq((1L, "watermark checkpoint semantics of stream joins explained"),
      (2L, "cake flour sugar butter oven"),
      (3L, "cat mat dog log fog")) ++
      (10L to 30L).map(i => (i, s"filler document number $i about nothing")))
      .toDF("doc_id", "text").write.parquet(s"$src/docs.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$src
         |""".stripMargin)
    Seq("bm25", "hashed", "hybrid").foreach { mode =>
      assert(Main.run(Array("search", "--query", "watermark checkpoint stream",
        "--table", "docs", "--mode", mode, "--k", "3",
        "--config", cfg), spark) == 0, mode)
    }
    // the ranking itself: hybrid's top hit is the planted doc
    val top = graft.operators.text.HybridRetrieval.textTopK(
        spark.read.parquet(s"$src/docs.parquet"),
        col("text"), col("doc_id"),
        "watermark checkpoint stream", kOut = 3)
      .select("id").as[Long].head()
    assert(top == 1L)
    // a missing --query is a usage error
    assert(Main.run(Array("search", "--config", cfg), spark) == 2)

    // --probe-file: a BATCH of hybrid queries, one per line; each
    // planted query ranks its own document first
    val pf = Files.createTempFile("graft_probes", ".txt")
    Files.write(pf, java.util.Arrays.asList(
      "watermark checkpoint stream", "cake sugar oven", ""))
    assert(Main.run(Array("search", "--probe-file", pf.toString,
      "--table", "docs", "--k", "3", "--config", cfg), spark) == 0)
    val batch = graft.operators.text.HybridRetrieval.textTopKBatch(
        spark.read.parquet(s"$src/docs.parquet"),
        col("text"), col("doc_id"),
        Seq(0L -> "watermark checkpoint stream", 1L -> "cake sugar oven"),
        kOut = 3)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) =>
        q -> rs.minBy(r => (-r.getAs[Long]("rrf_scaled"), r.getAs[Long]("id")))
          .getAs[Long]("id")
      }
    assert(batch == Map(0L -> 1L, 1L -> 2L), batch.toString)
    // an empty probe file is a clean error, not a crash
    val empty = Files.createTempFile("graft_probes_empty", ".txt")
    assert(Main.run(Array("search", "--probe-file", empty.toString,
      "--table", "docs", "--config", cfg), spark) == 1)
  }

  test("embed -> ann build -> ann search: text-only corpus through the vector lifecycle") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val src = Files.createTempDirectory("graft_cli_embed").toString
    // doc 2 is a near-verbatim copy of doc 1; the rest are unrelated
    (Seq(
      (1L, "watermark checkpoint semantics of stream joins explained fully"),
      (2L, "watermark checkpoint semantics of stream joins explained"),
      (3L, "cake flour sugar butter oven whisk batter")) ++
      (10L to 40L).map(i => (i, s"filler text number $i concerning nothing relevant")))
      .toDF("doc_id", "text").write.parquet(s"$src/docs.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$src
         |""".stripMargin)
    assert(Main.run(Array("embed", "--table", "docs",
      "--into", "docs_emb", "--config", cfg), spark) == 0)
    val emb = spark.read.parquet(s"$src/docs_emb.parquet")
    assert(emb.columns.sorted.sameElements(Array("embedding", "vec_id")))

    val idx = Files.createTempDirectory("graft_cli_embed_idx").toString + "/ann"
    assert(Main.run(Array("ann", "build", "--table", "docs_emb",
      "--index", idx, "--config", cfg), spark) == 0)
    // probe with doc 1's embedding: its near-copy doc 2 must hit
    val probeDir = Files.createTempDirectory("graft_cli_embed_probe").toString
    emb.where(col("vec_id") === 1L).write.parquet(s"$probeDir/p.parquet")
    val outDir = Files.createTempDirectory("graft_cli_embed_out").toString
    assert(Main.run(Array("ann", "search", "--index", idx,
      "--probe-file", s"$probeDir/p.parquet", "--k", "3",
      "--out", s"$outDir/hits", "--config", cfg), spark) == 0)
    val hits = spark.read.parquet(s"$outDir/hits")
      .select("vec_id").as[Long].collect().toSet
    assert(hits.contains(2L), s"near-copy not retrieved: $hits")
  }

  test("curate with DSIR pre-selection and the LM gate composes the full funnel") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_cli_cur2").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    assert(Main.run(Array("curate", "--table", "documents",
      "--dsir-lang", "en", "--dsir-k", "200", "--lm-tau", "3.4",
      "--into", "docs_sel", "--config", cfg), spark) == 0)
    val kept = spark.read.parquet(s"$out/docs_sel.parquet")
    assert(kept.count() > 0)
    assert(kept.count() <= 200, "selection cap must bound the funnel")
    // the DSIR head stage pulls the survivors toward the target lang
    val enShare = kept.where(col("lang") === "en").count().toDouble /
      kept.count()
    assert(enShare > 0.5, s"en share $enShare")
    // every survivor passes the LM gate semantics on the gated corpus:
    // re-scoring the SURVIVOR SET with the same settings must keep all
    // of them or more (the gate was trained on the pre-gate corpus, so
    // we just assert the written table round-trips non-trivially)
    assert(kept.columns.contains("text") && kept.columns.contains("lang"))
  }

  test("compare --schema reports drifted columns and exits clean on parity") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_cli_schema").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |exclude: lineitem orders events documents embeddings part customer supplier
         |""".stripMargin)
    assert(Main.run(Array("sync", "--config", cfg), spark) == 0)
    // freshly synced: no drift, exit 0
    assert(Main.run(Array("compare", "--schema", "--config", cfg), spark) == 0)
    // drift the destination: drop one column, retype another
    val drifted = spark.read.parquet(s"$out/nation.parquet")
      .drop("n_name")
      .withColumn("n_regionkey", col("n_regionkey").cast("string"))
    val tmp = Files.createTempDirectory("graft_cli_schema_mut").toString
    drifted.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite")
      .parquet(s"$out/nation.parquet")
    // one drifting table -> exit code 1
    assert(Main.run(Array("compare", "--schema", "--config", cfg), spark) == 1)
    val drifts = graft.sync.Compare.schemaCompare(spark,
      Main.catalogFor(graft.config.Endpoint(s"parquet:$sf0001")),
      graft.sync.FileSink(out, "parquet"),
      Seq("nation", "region"))
    assert(drifts.map(d => (d.table, d.column, d.status)).toSet == Set(
      ("nation", "n_name", "missing_in_dest"),
      ("nation", "n_regionkey", "type_mismatch")))
  }

  test("compare --freshness reports watermark lag and exits clean in sync") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_cli_fresh").toString
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |exclude: lineitem orders events documents embeddings part supplier region nation
         |watermarks.customer: c_custkey
         |""".stripMargin)
    // no watermarks configured -> usage error
    val cfgNoWm = writeCfg(
      s"""src:
         |  url: parquet:$sf0001
         |dest:
         |  url: parquet:$out
         |""".stripMargin)
    assert(Main.run(Array("compare", "--freshness", "--config", cfgNoWm), spark) == 2)
    assert(Main.run(Array("sync", "--config", cfg), spark) == 0)
    // fresh replica: in sync, exit 0
    assert(Main.run(Array("compare", "--freshness", "--config", cfg), spark) == 0)
    // stale replica: drop the top half of the destination's keys
    val srcMax = spark.read.parquet(s"$sf0001/customer.parquet")
      .agg(org.apache.spark.sql.functions.max("c_custkey")).head().getLong(0)
    val stale = spark.read.parquet(s"$out/customer.parquet")
      .where(col("c_custkey") < srcMax / 2)
    val tmp = Files.createTempDirectory("graft_cli_fresh_mut").toString
    stale.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite")
      .parquet(s"$out/customer.parquet")
    assert(Main.run(Array("compare", "--freshness", "--config", cfg), spark) == 1)
  }

  test("audit via CLI: gates count violations; clean table exits 0") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_cli_audit").toString
    // 3 classes of 4; class 'b' homogeneous in diag, class 'c' skewed
    (Seq(
      (1L, "a", "x"), (2L, "a", "x"), (3L, "a", "y"), (4L, "a", "y"),
      (5L, "b", "x"), (6L, "b", "x"), (7L, "b", "x"), (8L, "b", "x"),
      (9L, "c", "y"), (10L, "c", "y"), (11L, "c", "y"), (12L, "c", "x")))
      .toDF("id", "zip", "diag").write.parquet(s"$src/people.parquet")
    val cfg = writeCfg(
      s"""src:
         |  url: parquet:$src
         |dest:
         |  url: parquet:$src
         |""".stripMargin)
    // k=4 passes; adding the sensitive column trips l-diversity
    // (class b) and t-closeness (b and c) -> 2 gates violated
    assert(Main.run(Array("audit", "--table", "people",
      "--quasi", "zip", "--k", "4", "--config", cfg), spark) == 0)
    assert(Main.run(Array("audit", "--table", "people",
      "--quasi", "zip", "--k", "4", "--sensitive", "diag",
      "--l", "2", "--t", "0.2", "--config", cfg), spark) == 2)
    // k=5 additionally trips k-anonymity -> 3 gates
    assert(Main.run(Array("audit", "--table", "people",
      "--quasi", "zip", "--k", "5", "--sensitive", "diag",
      "--l", "2", "--t", "0.2", "--config", cfg), spark) == 3)
    // missing --quasi is a usage error
    assert(Main.run(Array("audit", "--table", "people",
      "--config", cfg), spark) == 2)
  }

  test("a data command without --config prints the usage and exits 2; help needs none") {
    val (rc, out) = captured("profile", "--table", "nation")
    assert(rc == 2 && out.startsWith("no --config given; usage: graft <sync") &&
      out.trim.endsWith("--config cfg.yml") && !out.contains("finished"), out)
    val (helpRc, help) = captured("help")
    assert(helpRc == 0 && help.startsWith("usage: graft <sync"), help)
    assert(captured()._1 == 0)
  }

  test("version exits 0 (reference cmd/version.go parity)") {
    assert(Main.run(Array("version"), spark) == 0)
  }
}
