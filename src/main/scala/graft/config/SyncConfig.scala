package graft.config

/** Connection half of the reference's yml config (example.yml:1-12,
  * connect/connect.go:3-14): one endpoint per side. For JDBC endpoints
  * `url` is a full JDBC URL; `props` carries user/password/driver.
  * Every raw JDBC connection and every Spark JDBC read or write of the
  * sync layer goes through [[properties]] / [[withConnection]].
  */
final case class Endpoint(url: String, props: Map[String, String] = Map.empty) {

  /** `props` as the `java.util.Properties` JDBC APIs take. */
  def properties: java.util.Properties = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** Run `f` on a fresh connection, closed afterwards. A `driver` prop
    * is loaded first, for drivers that do not self-register. */
  def withConnection[A](f: java.sql.Connection => A): A = {
    props.get("driver").foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, properties)
    try f(conn)
    finally conn.close()
  }
}

/** Mirror of the reference's viper yml surface (cmd/app.go:19-32,
  * cmd/root.go:646-672, example.yml):
  *   src/dest endpoints, pageSize (rows per extract slice), maxParallel
  *   (concurrent tables), batchRowSize (JDBC write batch), tables
  *   (table -> custom SELECTs, the `-s` mode), exclude (skip list).
  *
  * pageSize maps to rows-per-partition for the partitioned JDBC read;
  * maxParallel to the driver-side table scheduler; batchRowSize to the
  * JDBC writer `batchsize` option. The reference's placeholder clamp
  * (65535/cols - 10, cmd/root.go:405-407) is unnecessary on Spark's
  * addBatch writer and is kept only as validation.
  */
final case class SyncConfig(
    src: Endpoint,
    dest: Endpoint,
    pageSize: Int = 100000,
    maxParallel: Int = 30,
    batchRowSize: Int = 1000,
    tables: Map[String, Seq[String]] = Map.empty,
    exclude: Seq[String] = Seq.empty,
    /** table -> monotonic watermark column: these tables sync
      * incrementally (append rows beyond the target's MAX) instead of
      * truncate-reloading. */
    watermarks: Map[String, String] = Map.empty) {
  require(pageSize > 0, "pageSize must be positive")
  require(maxParallel > 0, "maxParallel must be positive")
  require(batchRowSize > 0, "batchRowSize must be positive")
}

object SyncConfig {

  /** Tiny yml-subset loader for the reference's example.yml shape — flat
    * `key: value` scalars plus a one-level `tables:` map of lists. No
    * external dependency (zero-egress build); the subset is exactly what
    * the reference's viper usage reads.
    */
  def fromYaml(text: String): SyncConfig = {
    val lines = text.linesIterator
      .map(stripComment)
      .filter(_.trim.nonEmpty)
      .toVector

    // section -> scalars; tables -> name -> sqls
    val scalars = scala.collection.mutable.Map[String, String]()
    val tables = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    var section = ""
    var curTable = ""
    lines.foreach { raw =>
      val indent = raw.takeWhile(_ == ' ').length
      val line = raw.trim
      if (indent == 0 && line.endsWith(":")) {
        section = line.dropRight(1); curTable = ""
      } else if (indent == 0 && line.contains(":")) {
        val Array(k, v) = line.split(":", 2); scalars(k.trim) = stripQuotes(v.trim)
        section = ""
      } else if (section == "tables" && line.endsWith(":")) {
        curTable = line.dropRight(1).trim
        tables(curTable) = Vector.empty
      } else if (section == "tables" && line.startsWith("- ") && curTable.nonEmpty) {
        tables(curTable) = tables(curTable) :+ stripQuotes(line.drop(2).trim)
      } else if (section.nonEmpty && line.contains(":")) {
        val Array(k, v) = line.split(":", 2)
        scalars(s"$section.${k.trim}") = stripQuotes(v.trim)
      }
    }

    def endpoint(side: String): Endpoint = {
      val user = scalars.get(s"$side.username")
      val pass = scalars.get(s"$side.password")
      val props = (user.map("user" -> _) ++ pass.map("password" -> _)).toMap
      // `url:` (any JDBC url, or parquet:<dir> for file endpoints)
      // generalizes the reference's host/port/database triple
      scalars.get(s"$side.url") match {
        case Some(u) => Endpoint(u, props)
        case None =>
          val host = scalars.getOrElse(s"$side.host", "localhost")
          val port = scalars.getOrElse(s"$side.port", "3306")
          val db = scalars.getOrElse(s"$side.database", "")
          Endpoint(s"jdbc:mysql://$host:$port/$db", props)
      }
    }

    SyncConfig(
      src = endpoint("src"),
      dest = endpoint("dest"),
      pageSize = scalars.get("pageSize").map(_.toInt).getOrElse(100000),
      maxParallel = scalars.get("maxParallel").map(_.toInt).getOrElse(30),
      batchRowSize = scalars.get("batchRowSize").map(_.toInt).getOrElse(1000),
      tables = tables.view.mapValues(_.toSeq).toMap,
      exclude = scalars
        .get("exclude")
        .map(_.split("\\s+").filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty),
      watermarks = scalars.collect {
        case (k, v) if k.startsWith("watermarks.") =>
          k.stripPrefix("watermarks.") -> v
      }.toMap)
  }

  /** YAML comment rule: '#' starts a comment only at start-of-line or
    * after whitespace, and never inside a quoted scalar — so passwords,
    * URLs with fragments, and quoted custom SQL containing '#' survive.
    * A quote only OPENS a scalar when it is the scalar's first character
    * (right after ':', '-', a flow-collection delimiter '[' '{' ',', or
    * line start); mid-scalar apostrophes
    * (`password: don't`) are literal, per YAML — which also means a
    * whitespace-then-'#' inside a PLAIN (unquoted) scalar truncates it,
    * exactly as real YAML does: quote the whole scalar to keep ' #'.
    * Inside a single-quoted scalar, a doubled '' is YAML's escaped
    * quote and does NOT close the scalar. */
  private def stripComment(line: String): String = {
    var quote: Char = 0
    var prevNonSpace: Char = 0
    var i = 0
    while (i < line.length) {
      val c = line(i)
      if (quote != 0) {
        if (c == quote) {
          // '' inside a single-quoted scalar is an escaped quote: the
          // scalar stays open and both characters are consumed
          if (quote == '\'' && i + 1 < line.length && line(i + 1) == '\'') i += 1
          else quote = 0
        }
      } else if ((c == '"' || c == '\'') &&
               (prevNonSpace == 0 || prevNonSpace == ':' || prevNonSpace == '-' ||
                prevNonSpace == '[' || prevNonSpace == '{' || prevNonSpace == ','))
        quote = c
      else if (c == '#' && (i == 0 || line(i - 1).isWhitespace))
        return line.substring(0, i)
      if (!c.isWhitespace) prevNonSpace = c
      i += 1
    }
    line
  }

  private def stripQuotes(s: String): String =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      // single-quoted YAML scalar: '' is the escaped quote
      s.substring(1, s.length - 1).replace("''", "'")
    else if (s.length >= 2 && s.head == '"' && s.last == '"')
      s.substring(1, s.length - 1)
    else s
}
