package perfbench

import java.sql.{Connection, DriverManager, Timestamp}
import java.util.SplittableRandom

/** Seeded source database for the JDBC workload, loaded with the
  * benchmark's own plain JDBC batch inserts — never the program's
  * `JdbcSink` — so generation cost and content never move with program
  * changes. Every table exercises one read/repair path of the sync
  * layer:
  *
  *   - `region`, `nation`, `customer`, `part`: small dimension tables;
  *   - `orders`: numeric PK with gaps (range-sliced reads);
  *   - `lineitem`: the volume table, a UNIQUE composite PK whose lead is
  *     `l_orderkey` (numeric-lead slicing, the critical path);
  *   - `clicks`: skewed numeric PK, a dense cluster plus a sparse tail
  *     (histogram-balanced cut points);
  *   - `sku`: VARCHAR PK (single-scan read, `HashKey` delta path);
  *   - `audit_log`: no PK (full-scan read, full-reload delta path).
  *
  * Columns cover BIGINT, INT, DOUBLE, VARCHAR and TIMESTAMP.
  */
object Gen {

  /** Row counts per table at scale 1. */
  final case class Sizes(
      customer: Int, part: Int, orders: Int, clicks: Int, sku: Int, audit: Int)

  val Standard: Sizes = Sizes(
    customer = 300, part = 400, orders = 3000, clicks = 4000, sku = 1500, audit = 1500)
  val Tiny: Sizes = Sizes(
    customer = 40, part = 50, orders = 300, clicks = 400, sku = 200, audit = 150)

  /** Destination DDL, replayed by the benchmark on both databases. */
  val ddl: Seq[(String, String)] = Seq(
    "region" ->
      "CREATE TABLE region (r_regionkey INT NOT NULL PRIMARY KEY, r_name VARCHAR(25))",
    "nation" ->
      """CREATE TABLE nation (n_nationkey INT NOT NULL PRIMARY KEY,
        |n_name VARCHAR(25), n_regionkey INT)""".stripMargin,
    "customer" ->
      """CREATE TABLE customer (c_custkey BIGINT NOT NULL PRIMARY KEY,
        |c_name VARCHAR(25), c_nationkey INT, c_acctbal DOUBLE,
        |c_mktsegment VARCHAR(10))""".stripMargin,
    "part" ->
      """CREATE TABLE part (p_partkey BIGINT NOT NULL PRIMARY KEY,
        |p_name VARCHAR(55), p_size INT, p_retailprice DOUBLE)""".stripMargin,
    "orders" ->
      """CREATE TABLE orders (o_orderkey BIGINT NOT NULL PRIMARY KEY,
        |o_custkey BIGINT, o_orderstatus VARCHAR(1), o_totalprice DOUBLE,
        |o_orderdate TIMESTAMP, o_orderpriority VARCHAR(15))""".stripMargin,
    "lineitem" ->
      """CREATE TABLE lineitem (l_orderkey BIGINT NOT NULL,
        |l_linenumber INT NOT NULL, l_partkey BIGINT, l_quantity DOUBLE,
        |l_extendedprice DOUBLE, l_discount DOUBLE, l_shipdate TIMESTAMP,
        |l_comment VARCHAR(44),
        |PRIMARY KEY (l_orderkey, l_linenumber))""".stripMargin,
    "clicks" ->
      """CREATE TABLE clicks (click_id BIGINT NOT NULL PRIMARY KEY,
        |user_id INT, kind VARCHAR(12), dwell DOUBLE, ts TIMESTAMP)""".stripMargin,
    "sku" ->
      """CREATE TABLE sku (sku VARCHAR(24) NOT NULL PRIMARY KEY,
        |title VARCHAR(40), price DOUBLE, stock INT, updated TIMESTAMP)""".stripMargin,
    "audit_log" ->
      """CREATE TABLE audit_log (entry BIGINT, actor VARCHAR(16),
        |action VARCHAR(16), amount DOUBLE, logged_at TIMESTAMP)""".stripMargin,
  )

  val tables: Seq[String] = ddl.map(_._1)

  /** The largest table: the sync critical path, and where the
    * delta workload clusters its updates. */
  val Largest = "lineitem"

  def connect(url: String): Connection = DriverManager.getConnection(url)

  def createSchema(url: String): Unit = {
    val c = connect(url)
    try {
      val st = c.createStatement()
      try ddl.foreach { case (_, sql) => st.execute(sql) } finally st.close()
    } finally c.close()
  }

  private val Epoch = 694224000000L // 1992-01-01T00:00:00Z in ms
  private val Day = 86400000L
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Kinds = Array("view", "click", "scroll", "purchase", "share", "hover")
  private val Words = Array("quick", "brown", "fox", "lazy", "dog", "ironic", "pending",
    "deposits", "furious", "silent", "bold", "regular", "express", "packages")

  private def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Words(r.nextInt(Words.length))).mkString(" ")

  /** Order keys: TPC-H style gaps (4 keys used out of every 32), so
    * ranges by value and by count differ. */
  def orderKey(i: Int): Long = (i / 4).toLong * 32 + (i % 4) + 1

  /** One generated table: its name and its rows as JDBC parameter
    * values (null-free). */
  final case class Table(name: String, rows: IndexedSeq[Array[Any]])

  /** Every table's rows for `seed`. Each table draws from its own
    * stream, so sizes of one table never shift another's content. */
  def generate(seed: Long, s: Sizes): Seq[Table] = {
    def rng(i: Int) = new SplittableRandom(seed * 1000003L + i)
    val region = {
      val names = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      Table("region", (0 until 5).map(i => Array[Any](i, names(i))))
    }
    val nation = {
      val r = rng(1)
      Table("nation", (0 until 25).map(i =>
        Array[Any](i, s"NATION_${i}_${r.nextInt(1000)}", r.nextInt(5))))
    }
    val customer = {
      val r = rng(2)
      Table("customer", (1 to s.customer).map(i => Array[Any](
        i.toLong, f"Customer#$i%09d", r.nextInt(25),
        r.nextInt(1099999) / 100.0 - 999.99, Segments(r.nextInt(Segments.length)))))
    }
    val part = {
      val r = rng(3)
      Table("part", (1 to s.part).map(i => Array[Any](
        i.toLong, words(r, 3), 1 + r.nextInt(50), 900 + r.nextInt(110000) / 100.0)))
    }
    val ordersR = rng(4)
    val lineR = rng(5)
    val orderRows = Vector.newBuilder[Array[Any]]
    val lineRows = Vector.newBuilder[Array[Any]]
    (0 until s.orders).foreach { i =>
      val ok = orderKey(i)
      val date = Epoch + ordersR.nextInt(2400) * Day
      val nLines = 1 + lineR.nextInt(7)
      var total = 0.0
      (1 to nLines).foreach { ln =>
        val qty = (1 + lineR.nextInt(50)).toDouble
        val price = qty * (900 + lineR.nextInt(110000) / 100.0)
        total += price
        lineRows += Array[Any](
          ok, ln, (1 + lineR.nextInt(s.part)).toLong, qty, price,
          lineR.nextInt(11) / 100.0, new Timestamp(date + (1 + lineR.nextInt(120)) * Day),
          words(lineR, 1 + lineR.nextInt(4)))
      }
      orderRows += Array[Any](
        ok, (1 + ordersR.nextInt(s.customer)).toLong,
        if (ordersR.nextBoolean()) "F" else "O", math.floor(total * 100) / 100,
        new Timestamp(date), Priorities(ordersR.nextInt(Priorities.length)))
    }
    val clicks = {
      // 80% of keys dense from 1, the rest a sparse tail with
      // exponentially growing gaps — equal-width cuts would put nearly
      // every row in the first slice
      val r = rng(6)
      val dense = s.clicks * 4 / 5
      var key = dense.toLong
      Table("clicks", (1 to s.clicks).map { i =>
        val id =
          if (i <= dense) i.toLong
          else { key += 1 + (r.nextDouble() * r.nextDouble() * 2000000).toLong; key }
        Array[Any](id, r.nextInt(5000), Kinds(r.nextInt(Kinds.length)),
          r.nextInt(600000) / 1000.0, new Timestamp(Epoch + r.nextInt(2400) * Day))
      })
    }
    val sku = {
      val r = rng(7)
      val seen = scala.collection.mutable.HashSet.empty[String]
      val rows = Vector.newBuilder[Array[Any]]
      while (seen.size < s.sku) {
        val k = f"SKU-${r.nextInt(1 << 30)}%08x"
        if (seen.add(k))
          rows += Array[Any](k, words(r, 2), r.nextInt(100000) / 100.0, r.nextInt(500),
            new Timestamp(Epoch + r.nextInt(2400) * Day))
      }
      Table("sku", rows.result())
    }
    val audit = {
      val r = rng(8)
      Table("audit_log", (1 to s.audit).map(i => Array[Any](
        (i / 3).toLong, f"user${r.nextInt(200)}%03d", Kinds(r.nextInt(Kinds.length)),
        r.nextInt(100000) / 100.0, new Timestamp(Epoch + r.nextInt(2400) * Day))))
    }
    Seq(region, nation, customer, part, Table("orders", orderRows.result()),
      Table("lineitem", lineRows.result()), clicks, sku, audit)
  }

  /** Insert `t` with one prepared batch statement per table. */
  def load(conn: Connection, t: Table): Unit = {
    val width = t.rows.head.length
    val ps = conn.prepareStatement(
      s"INSERT INTO ${t.name} VALUES (${Seq.fill(width)("?").mkString(", ")})")
    try {
      conn.setAutoCommit(false)
      t.rows.grouped(1000).foreach { batch =>
        batch.foreach { row =>
          row.indices.foreach(i => ps.setObject(i + 1, row(i)))
          ps.addBatch()
        }
        ps.executeBatch()
      }
      conn.commit()
    } finally {
      ps.close()
      conn.setAutoCommit(true)
    }
  }

  def loadAll(url: String, data: Seq[Table]): Unit = {
    val c = connect(url)
    try data.foreach(load(c, _)) finally c.close()
  }

  /** Order-independent per-table fingerprint: row count and the sum of
    * a 64-bit hash of each row's rendered values. */
  def fingerprint(data: Seq[Table]): Map[String, (Int, Long)] =
    data.map { t =>
      t.name -> (t.rows.size, t.rows.iterator
        .map(r => scala.util.hashing.MurmurHash3.arrayHash(r.map(String.valueOf)).toLong)
        .sum)
    }.toMap

  /** Seeded divergence of a replica, applied with plain JDBC statements
    * so that a correct repair restores it exactly:
    *   - two clustered key ranges of the largest table are updated
    *     (about 1% of its rows);
    *   - four scattered orders are updated;
    *   - `sku` loses two rows and gains two the source never had;
    *   - every other table is left untouched.
    * The seed moves every diverged key, but never the number of repair
    * ranges a delta pass needs (ten: two lineitem clusters, four
    * orders, four sku keys), because each repair range is a Spark job
    * of its own: numeric keys sit in windows of the key order at least
    * a few slices apart, and the sku keys land in md5 slices that are
    * pairwise neither equal nor adjacent, so no two of them ever share
    * or merge into one range.
    * Returns the number of rows diverged (updated + deleted + inserted).
    */
  final case class Divergence(statements: Seq[String]) {
    def apply(url: String): Long = {
      val c = connect(url)
      try {
        val st = c.createStatement()
        try statements.map(st.executeUpdate(_).toLong).sum finally st.close()
      } finally c.close()
    }
  }

  def divergence(seed: Long, data: Seq[Table]): Divergence = {
    val r = new SplittableRandom(seed * 7919L + 17)
    val byName = data.map(t => t.name -> t).toMap
    val orders = byName("orders").rows.map(_(0).asInstanceOf[Long])
    // k positions of `width` keys, one in the middle half of each of k
    // equal windows of the key order: at least half a window apart
    def spaced(k: Int, width: Int): Seq[Int] = {
      val w = orders.size / k
      (0 until k).map(j => j * w + w / 4 + r.nextInt(math.max(1, w / 2 - width)))
    }
    // two clusters, each about 0.5% of the orders (≈ 0.5% of lineitem)
    val width = math.max(1, orders.size / 200)
    val lineUpdates = spaced(2, width).map { start =>
      s"UPDATE lineitem SET l_quantity = l_quantity + 1, l_comment = 'diverged' " +
        s"WHERE l_orderkey BETWEEN ${orders(start)} AND ${orders(start + width - 1)}"
    }
    val scattered = spaced(4, 1).map(orders(_))
    val orderUpdate = s"UPDATE orders SET o_totalprice = o_totalprice + 0.01 " +
      s"WHERE o_orderkey IN (${scattered.mkString(", ")})"
    // sku keys whose delta slices are pairwise at least 2 apart
    val taken = scala.collection.mutable.ArrayBuffer.empty[Int]
    def far(key: String): Boolean = {
      val s = hashSlice(key)
      val ok = taken.forall(t => math.abs(t - s) >= 2)
      if (ok) taken += s
      ok
    }
    val skus = byName("sku").rows.map(_(0).asInstanceOf[String])
    val doomed = Iterator.continually(skus(r.nextInt(skus.size))).filter(far).take(2).toList
    val skuDelete = s"DELETE FROM sku WHERE sku IN (${doomed.map(k => s"'$k'").mkString(", ")})"
    // inserted keys use a prefix the generator never emits
    val phantoms = Iterator.from(0).map(i => s"ZZZ-$seed-$i").filter(far).take(2).toList
    val skuInserts = phantoms.map { k =>
      s"INSERT INTO sku VALUES ('$k', 'phantom', 1.0, 1, TIMESTAMP('1995-06-01 00:00:00'))"
    }
    Divergence(lineUpdates ++ Seq(orderUpdate, skuDelete) ++ skuInserts)
  }

  /** The delta slice of a single-column string key: the program's
    * `HashKey` (the first 60 bits of the key's md5) cut into
    * `DeltaSync`'s default 64 equal slices, i.e. the top 6 bits. */
  def hashSlice(key: String): Int = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(key.getBytes("UTF-8"))
    (md5(0) & 0xff) >>> 2
  }
}
