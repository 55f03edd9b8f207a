package graft.perfbench

import java.sql.{Connection, DriverManager, ResultSet}
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

/** Embedded in-memory Derby databases and a JDBC-side table digest.
  *
  * In-memory databases live in the benchmark's JVM, write nothing to disk,
  * and are dropped after each pass, so every pass migrates into a fresh,
  * empty target. The digest reads a table with plain JDBC, never through
  * `graft.transfer`, so it checks the program's output independently.
  */
object Derby {

  private val counter = new java.util.concurrent.atomic.AtomicInteger()

  /** A new empty in-memory database; returns its URL (no `create=true`). */
  def create(tag: String, sqlAuthorization: Boolean = false): String = {
    val name = s"memory:perfbench_${tag}_${counter.incrementAndGet()}"
    DriverManager.getConnection(s"jdbc:derby:$name;create=true").close()
    val url = s"jdbc:derby:$name"
    if (sqlAuthorization) {
      // the GRANT-bearing stages need SQL authorization, which Derby only
      // applies after the database is booted again
      exec(url, "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(" +
        "'derby.database.sqlAuthorization', 'TRUE')")
      Try(DriverManager.getConnection(s"$url;shutdown=true"))
    }
    url
  }

  /** Drop an in-memory database created by [[create]]. Derby reports a
    * successful drop as an SQLException with state 08006. */
  def drop(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  def withConn[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def exec(url: String, sqls: String*): Unit = withConn(url) { c =>
    val st = c.createStatement()
    try sqls.foreach(st.execute) finally st.close()
  }

  def query[A](url: String, sql: String)(f: ResultSet => A): Seq[A] =
    withConn(url) { c =>
      val rs = c.createStatement().executeQuery(sql)
      val out = ArrayBuffer[A]()
      while (rs.next()) out += f(rs)
      out.toSeq
    }

  /** Stored names of the user tables (TABLETYPE 'T') in schema APP. */
  def userTables(url: String): Seq[String] = query(url,
    "SELECT t.TABLENAME FROM SYS.SYSTABLES t JOIN SYS.SYSSCHEMAS s " +
    "ON t.SCHEMAID = s.SCHEMAID WHERE t.TABLETYPE = 'T' AND s.SCHEMANAME = 'APP'")(
    _.getString(1)).sorted

  /** Stored names of the views in schema APP. */
  def userViews(url: String): Seq[String] = query(url,
    "SELECT t.TABLENAME FROM SYS.SYSTABLES t JOIN SYS.SYSSCHEMAS s " +
    "ON t.SCHEMAID = s.SCHEMAID WHERE t.TABLETYPE = 'V' AND s.SCHEMANAME = 'APP'")(
    _.getString(1)).sorted

  def quote(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  /** Canonical text of one JDBC value, equal across the type changes a
    * migration may make (SMALLINT→INTEGER, CHAR→VARCHAR, VARCHAR→CLOB). */
  private def canonical(v: AnyRef): String = v match {
    case null => "\u0000null"
    case n: java.lang.Byte => n.longValue.toString
    case n: java.lang.Short => n.longValue.toString
    case n: java.lang.Integer => n.longValue.toString
    case n: java.lang.Long => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case f: java.lang.Float => f.toString
    case d: java.lang.Double => d.toString
    case c: java.sql.Clob => c.getSubString(1L, c.length.toInt)
    case b: java.sql.Blob => b.getBytes(1L, b.length.toInt).map("%02x".format(_)).mkString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** (rows, order-independent 64-bit content hash) of a table; the hash is
    * a wrapping sum of per-row hashes, so duplicated or missing rows show
    * even in pairs. `None` when the table cannot be read (absent). */
  def digest(url: String, table: String): Option[(Long, Long)] = Try {
    withConn(url) { c =>
      val rs = c.createStatement().executeQuery(s"SELECT * FROM ${quote(table)}")
      val n = rs.getMetaData.getColumnCount
      var rows = 0L
      var sum = 0L
      val sb = new java.lang.StringBuilder
      while (rs.next()) {
        sb.setLength(0)
        var i = 1
        while (i <= n) { sb.append(canonical(rs.getObject(i))).append('\u0001'); i += 1 }
        val s = sb.toString
        sum += (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
          (scala.util.hashing.MurmurHash3.stringHash(s, 31).toLong & 0xFFFFFFFFL)
        rows += 1
      }
      (rows, sum)
    }
  }.toOption
}
