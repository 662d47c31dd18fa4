package graft.sync

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.catalog.JdbcCatalog
import graft.config.Endpoint

/** The pagination-to-partitioning replacement, against a real JDBC
  * database with a PK index — the reference's actual extract shape. */
class PartitionedReaderSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:pagedb;create=true"
  private lazy val endpoint = Endpoint(url)

  test("partitioned read covers the table exactly, one task per slice") {
    val target = new JdbcCatalog(endpoint)
    DdlReplay.replay(target, Seq(
      """CREATE TABLE orders_t (o_orderkey BIGINT NOT NULL PRIMARY KEY,
        |o_custkey BIGINT, o_totalprice DOUBLE)""".stripMargin.replace("\n", " ")))
    val src = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    JdbcSink(endpoint, batchRowSize = 500, numPartitions = 2)
      .overwrite(src, "orders_t")

    val got = target.readPartitioned(spark, "orders_t", 300, PartitionedReader.MaxSlices)
    // ceil(1500/300) = 5 slices = 5 partitions
    assert(got.rdd.getNumPartitions == 5)
    assert(got.count() == 1500)
    assert(Compare.contentEqual(src, got))
    // every slice non-trivially populated (quantile cuts, not min/max width)
    val sizes = got.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.forall(_ > 0), s"empty slice in ${sizes.toSeq}")
    assert(sizes.toSeq == Seq(305, 305, 305, 304, 281), sizes.toSeq)
  }

  test("skewed PK distribution still yields balanced slices (histogram cuts)") {
    val target = new JdbcCatalog(endpoint)
    DdlReplay.replay(target, Seq(
      "CREATE TABLE skew_t (k BIGINT NOT NULL PRIMARY KEY, v INT)"))
    // 90% of keys clustered in [0, 1000), a sparse tail out to 1e9:
    // equal-width min/max slicing would put ~all rows in slice one
    val keys = (0L until 900L) ++ (1L to 100L).map(_ * 10000000L)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(k => org.apache.spark.sql.Row(k, 1)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.IntegerType, nullable = true))))
    JdbcSink(endpoint).overwrite(df, "skew_t")
    val got = target.readPartitioned(spark, "skew_t", 250, PartitionedReader.MaxSlices)
    assert(got.count() == 1000)
    assert(got.rdd.getNumPartitions == 4)
    val sizes = got.rdd.mapPartitions(it => Iterator(it.size)).collect()
    // balanced to histogram-bucket granularity: no slice hogs the table
    assert(sizes.max <= 600, s"skewed slice sizes: ${sizes.toSeq}")
    assert(sizes.forall(_ > 0), s"empty slice in ${sizes.toSeq}")
    assert(sizes.toSeq == Seq(239, 238, 239, 284), sizes.toSeq)
  }

  test("no-PK table falls back to a single full scan") {
    val target = new JdbcCatalog(endpoint)
    DdlReplay.replay(target, Seq("CREATE TABLE nopk_t (a INT, b VARCHAR(16))"))
    val df = spark.range(100).select(
      col("id").cast("int").as("a"), col("id").cast("string").as("b"))
    JdbcSink(endpoint).overwrite(df, "nopk_t")
    val got = target.readPartitioned(spark, "nopk_t", 10, PartitionedReader.MaxSlices)
    assert(got.count() == 100)
    assert(got.rdd.getNumPartitions == 1)
  }

  test("non-numeric PK falls back to a single full scan") {
    val target = new JdbcCatalog(endpoint)
    DdlReplay.replay(target, Seq(
      "CREATE TABLE strpk_t (code VARCHAR(8) NOT NULL PRIMARY KEY, v INT)"))
    val df = spark.range(50).select(
      concat(lit("k"), col("id")).as("code"), col("id").cast("int").as("v"))
    JdbcSink(endpoint).overwrite(df, "strpk_t")
    val got = target.readPartitioned(spark, "strpk_t", 10, PartitionedReader.MaxSlices)
    assert(got.count() == 50)
    assert(got.rdd.getNumPartitions == 1)
  }

  test("tiny table stays a single slice regardless of pageSize") {
    val target = new JdbcCatalog(endpoint)
    DdlReplay.replay(target, Seq(
      "CREATE TABLE tiny_t (k INT NOT NULL PRIMARY KEY, v VARCHAR(8))"))
    val df = spark.range(5).select(
      col("id").cast("int").as("k"), col("id").cast("string").as("v"))
    JdbcSink(endpoint).overwrite(df, "tiny_t")
    val got = target.readPartitioned(spark, "tiny_t", 100, PartitionedReader.MaxSlices)
    assert(got.count() == 5 && got.rdd.getNumPartitions == 1)
  }
}
