package graft.sync

import org.apache.spark.sql.SparkSession

import graft.config.Endpoint

/** Cooperative cancellation (SURVEY O4). The reference prefixes every
  * source query with a "goapp" SQL comment tag (cmd/root.go:359,380)
  * and, on SIGINT/SIGTERM, scans `information_schema.PROCESSLIST` for
  * tagged queries and kills each (cmd/app.go:161-191).
  *
  * Spark-shaped, the same THREE halves are:
  *   - tagging = a job group (`setJobGroup` with interruptOnCancel), so
  *     every job a pipeline submits is addressable as a unit, plus the
  *     same literal SQL comment on pushed-down query text so a DBA sees
  *     the tag in the source database's processlist;
  *   - kill = `cancelJobGroup` (task interrupt propagates to the JDBC
  *     fetch via Statement.cancel in the driver), armed from a JVM
  *     shutdown hook instead of a hand-rolled signal goroutine;
  *   - server-side kill = [[killTagged]]: cancelJobGroup abandons the
  *     client side of the fetch, but a statement already executing
  *     inside the server keeps burning the source database — for
  *     MySQL-wire endpoints (the only dialect with this PROCESSLIST
  *     shape) scan for tagged statements and `KILL QUERY` each, exactly
  *     the reference's cleanDBconn (cmd/app.go:161-177).
  */
object Jobs {

  /** Every tag starts with this, whatever the run id. */
  val BaseTag = "/* graft"

  /** Per-process run id, so the shutdown hook of one graft instance
    * kills only ITS tagged statements — two instances sharing a MySQL
    * endpoint must not reap each other (the reference's single global
    * "goapp" tag has exactly that flaw, cmd/app.go:163). */
  val RunId: String =
    java.util.UUID.randomUUID().toString.replace("-", "").substring(0, 12)

  /** Comment tag prefixed to SQL pushed to the source database —
    * the reference's "goapp" tag (cmd/root.go:359), made per-run. */
  val SqlTag = s"$BaseTag $RunId */"

  def tagSql(sql: String): String =
    if (sql.startsWith(BaseTag)) sql else s"$SqlTag $sql"

  /** Run `body` with every Spark job it submits in group `group`,
    * with interrupt-on-cancel so JDBC fetches die promptly. */
  def tagged[A](spark: SparkSession, group: String, desc: String = "")(
      body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, if (desc.isEmpty) group else desc,
      interruptOnCancel = true)
    try body
    finally sc.clearJobGroup()
  }

  def cancel(spark: SparkSession, group: String): Unit =
    spark.sparkContext.cancelJobGroup(group)

  /** MySQL-wire URLs are the only ones where the PROCESSLIST scan and
    * `KILL QUERY` syntax apply; every other dialect is gated out. */
  def isMySqlWire(url: String): Boolean =
    url.startsWith("jdbc:mysql:") || url.startsWith("jdbc:mariadb:")

  /** The reference's scan (cmd/app.go:163), with our tag. Default is
    * THIS run's tag; `allRuns = true` (explicit operator request, e.g.
    * cleaning up after a crashed instance) widens to every graft tag. */
  def scanTaggedSql(allRuns: Boolean = false): String = {
    val like = if (allRuns) s"$BaseTag %" else s"$SqlTag%"
    s"SELECT id FROM information_schema.PROCESSLIST WHERE info LIKE '$like'"
  }

  /** `KILL QUERY` statements for the scanned ids. Ids are interpolated
    * into SQL, so anything non-numeric (a hostile PROCESSLIST row) is
    * rejected rather than executed. */
  def killStatements(ids: Seq[String]): Seq[String] = {
    val bad = ids.filterNot(id => id.nonEmpty && id.forall(_.isDigit))
    require(bad.isEmpty, s"non-numeric PROCESSLIST ids refused: $bad")
    ids.map(id => s"KILL QUERY $id")
  }

  /** Scan-and-kill over an open connection; returns the killed ids.
    * Kill failures (query already gone) are ignored per id, like the
    * reference's per-row error logging. */
  def killTagged(conn: java.sql.Connection): Seq[String] =
    killTagged(conn, allRuns = false)

  def killTagged(conn: java.sql.Connection, allRuns: Boolean): Seq[String] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(scanTaggedSql(allRuns))
      val ids = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
      rs.close()
      killStatements(ids).foreach { kill =>
        try st.execute(kill)
        catch { case _: java.sql.SQLException => () }
      }
      ids
    } finally st.close()
  }

  /** Dialect-gated endpoint variant: non-MySQL-wire URLs are a no-op
    * (PostgreSQL would need pg_cancel_backend, Derby has nothing). */
  def killTagged(endpoint: Endpoint, allRuns: Boolean = false): Seq[String] =
    if (!isMySqlWire(endpoint.url)) Seq.empty
    else endpoint.withConnection(killTagged(_, allRuns))

  private val armedHooks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
  private val armEvents = new java.util.concurrent.atomic.AtomicLong(0)

  /** Hooks currently armed (observability + test assertion surface). */
  def armedCount: Int = armedHooks.size()

  /** Monotonic count of arm calls ever made in this JVM. */
  def armTotal: Long = armEvents.get()

  /** Arm a shutdown hook cancelling all in-flight jobs — the
    * reference's SIGINT handler (cmd/app.go:161-177) — and, for any
    * MySQL-wire endpoints supplied, killing their server-side tagged
    * statements (this run's tag only) too. Returns the hook thread so
    * tests/callers can disarm. */
  def armShutdownCancel(
      spark: SparkSession,
      endpoints: Seq[Endpoint] = Seq.empty): Thread = {
    val hook = new Thread(() => {
      try spark.sparkContext.cancelAllJobs()
      catch { case _: Throwable => () }
      endpoints.foreach { e =>
        try killTagged(e)
        catch { case _: Throwable => () }
      }
    })
    Runtime.getRuntime.addShutdownHook(hook)
    armedHooks.add(hook)
    armEvents.incrementAndGet()
    hook
  }

  def disarm(hook: Thread): Unit = {
    armedHooks.remove(hook)
    try Runtime.getRuntime.removeShutdownHook(hook)
    catch { case _: IllegalStateException => () }
  }

  /** Bracket: arm for the duration of `body`, always disarm — the
    * shape the CLI uses so one `run()` never leaks a hook thread. */
  def withShutdownCancel[A](
      spark: SparkSession,
      endpoints: Seq[Endpoint] = Seq.empty)(body: => A): A = {
    val hook = armShutdownCancel(spark, endpoints)
    try body finally disarm(hook)
  }
}
