package graft.catalog

import java.sql.{Connection, DriverManager}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.collection.mutable.ArrayBuffer

/** Source-catalog introspection — SURVEY.md §2.1 S1–S8/S11–S13 re-expressed
  * over JDBC `DatabaseMetaData` instead of MySQL-specific SHOW statements:
  *
  *  S1 table list + whitelist/blacklist  (`metadata.go:58-256`)
  *  S3 column scan                        (`metadata.go:259-292`)
  *  S4 index scan                         (`metadata.go:295-344`)
  *  S2-style bounded-concurrency fetch    (`metadata.go:133-255`, 20-way
  *                                         semaphore → fixed thread pool)
  *  S5 view-definition scan               (`metadata.go:347-374`)
  *  S6 stored-function scan               (`metadata.go:377-531`)
  *  S7 user/grant scan                    (`metadata.go:534-589`)
  *  S8 table-privilege scan               (`metadata.go:601-625`)
  *  S11 row count / S12 row-size estimate (`connection.go:232-256`)
  *  S13 version probe                     (`connection.go:259-266`)
  *
  * All driver-side and cold-path: the data plane never touches this — at
  * cluster scale the executors read partitioned ranges handed to them by
  * [[graft.transfer.Transfer]], and this module only answers "what tables
  * exist and how are they shaped" once per run.
  */
object Catalog {

  final case class ColumnMeta(name: String, typeName: String, nullable: Boolean,
      default: Option[String], comment: Option[String])
  final case class IndexMeta(name: String, table: String, columns: Seq[String],
      unique: Boolean)
  final case class TableMeta(name: String, columns: Seq[ColumnMeta],
      primaryKey: Seq[String], indexes: Seq[IndexMeta])
  /** S5: a view and the SELECT body of its definition. */
  final case class ViewMeta(name: String, definition: String)
  /** S6: a stored function and its (re)constructed CREATE FUNCTION DDL. */
  final case class FunctionMeta(name: String, ddl: String)
  /** S7: an account plus its grant statements, `user@host`-named for MySQL
    * sources and plain-named elsewhere. */
  final case class UserMeta(name: String, grants: Seq[String])
  /** S8: one (user, table) privilege row, privileges comma-joined like the
    * reference's `mysql.tables_priv.Table_priv` column. */
  final case class TablePrivMeta(user: String, table: String, privCsv: String)

  private def withConnection[A](url: String)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  /** Run the first probe query that the engine accepts and map its rows.
    * Engine-specific catalogs (INFORMATION_SCHEMA vs SYS.*) differ in
    * spelling, not in shape — so each scan is an ordered probe list,
    * MySQL-first to match the reference, with ANSI and Derby fallbacks. */
  private def firstProbe[A](conn: Connection, probes: Seq[String])(
      row: java.sql.ResultSet => A): Seq[A] =
    probes.view.flatMap { sql =>
      scala.util.Try {
        val rs = conn.createStatement().executeQuery(sql)
        val out = ArrayBuffer[A]()
        while (rs.next()) out += row(rs)
        out.toSeq
      }.toOption
    }.headOption.getOrElse(Nil)

  /** S1: list base tables, with app-side include/exclude filtering. */
  def listTables(url: String, include: Seq[String] = Nil,
                 exclude: Seq[String] = Nil): Seq[String] =
    withConnection(url) { conn =>
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val out = ArrayBuffer[String]()
      while (rs.next()) out += rs.getString("TABLE_NAME")
      out.toSeq
        .filter(t => include.isEmpty || include.exists(_.equalsIgnoreCase(t)))
        .filterNot(t => exclude.exists(_.equalsIgnoreCase(t)))
        .sorted
    }

  /** S3: column metadata for one table. */
  def tableColumns(url: String, table: String): Seq[ColumnMeta] =
    withConnection(url) { conn =>
      val rs = conn.getMetaData.getColumns(null, null, table, "%")
      val out = ArrayBuffer[ColumnMeta]()
      while (rs.next()) out += ColumnMeta(
        rs.getString("COLUMN_NAME"),
        rs.getString("TYPE_NAME"),
        rs.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls,
        Option(rs.getString("COLUMN_DEF")),
        Option(rs.getString("REMARKS")).filter(_.nonEmpty))
      out.toSeq
    }

  /** PK columns in ordinal order (single-PK gate lives in the caller, like
    * the reference's `GetTablePrimaryKeys` + `:218-229`). */
  def primaryKeys(url: String, table: String): Seq[String] =
    withConnection(url) { conn =>
      val rs = conn.getMetaData.getPrimaryKeys(null, null, table)
      val out = ArrayBuffer[(Short, String)]()
      while (rs.next()) out += rs.getShort("KEY_SEQ") -> rs.getString("COLUMN_NAME")
      out.sortBy(_._1).map(_._2).toSeq
    }

  /** S4: secondary indexes grouped by name, ordered by position; expression
    * indexes (null column name) skipped like `metadata.go:331-334`. */
  def tableIndexes(url: String, table: String): Seq[IndexMeta] =
    withConnection(url) { conn =>
      val rs = conn.getMetaData.getIndexInfo(null, null, table, false, false)
      val rows = ArrayBuffer[(String, Short, String, Boolean)]()
      while (rs.next()) {
        val name = rs.getString("INDEX_NAME")
        val col = rs.getString("COLUMN_NAME")
        if (name != null && col != null)
          rows += ((name, rs.getShort("ORDINAL_POSITION"), col, !rs.getBoolean("NON_UNIQUE")))
      }
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, cols) =>
        IndexMeta(name, table, cols.sortBy(_._2).map(_._3).toSeq, cols.head._4)
      }
    }

  /** S2-shaped bounded-concurrency full-catalog fetch (the reference's
    * 20-way semaphore, `metadata.go:134-135`). */
  def describeAll(url: String, concurrency: Int = 8,
                  include: Seq[String] = Nil,
                  exclude: Seq[String] = Nil): Seq[TableMeta] = {
    val tables = listTables(url, include, exclude)
    val pool = Executors.newFixedThreadPool(math.max(1, concurrency))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = tables.map { t =>
        Future(TableMeta(t, tableColumns(url, t), primaryKeys(url, t),
          tableIndexes(url, t)))
      }
      futures.map(Await.result(_, 5.minutes))
    } finally pool.shutdown()
  }

  // ----------------------------------------------- S5-S8 object-catalog scans

  /** Strip a stored full `CREATE VIEW name AS <select>` statement down to
    * its SELECT body; definitions already stored as bare SELECTs (MySQL's
    * INFORMATION_SCHEMA.VIEWS) pass through unchanged. */
  def viewSelectBody(definition: String): String = {
    val m = java.util.regex.Pattern
      .compile("(?is)^\\s*create\\s+(?:or\\s+replace\\s+)?view\\s+\\S+\\s*(?:\\([^)]*\\)\\s*)?as\\s+(.*)$")
      .matcher(definition.trim)
    if (m.matches()) m.group(1).trim else definition.trim
  }

  /** S5: view-definition scan (`GetViews`, metadata.go:347-374). Names come
    * from JDBC metadata (user views only); bodies from the engine's view
    * catalog — INFORMATION_SCHEMA.VIEWS holds a bare SELECT (MySQL/H2/PG),
    * Derby's SYS.SYSVIEWS the full CREATE VIEW text, normalized here to the
    * SELECT body so converters see one shape. */
  def listViews(url: String): Seq[ViewMeta] =
    withConnection(url) { conn =>
      val names = {
        val rs = conn.getMetaData.getTables(null, null, "%", Array("VIEW"))
        val out = ArrayBuffer[String]()
        while (rs.next()) out += rs.getString("TABLE_NAME")
        out.toSeq
      }
      val defs = firstProbe(conn, Seq(
        "SELECT table_name, view_definition FROM INFORMATION_SCHEMA.VIEWS WHERE table_schema = DATABASE()",
        "SELECT table_name, view_definition FROM INFORMATION_SCHEMA.VIEWS",
        "SELECT t.TABLENAME, v.VIEWDEFINITION FROM SYS.SYSVIEWS v JOIN SYS.SYSTABLES t ON v.TABLEID = t.TABLEID"
      ))(rs => rs.getString(1) -> rs.getString(2))
        .map { case (n, d) => n.toLowerCase -> Option(d).getOrElse("") }.toMap
      // a view whose definition cannot be fetched is SKIPPED, not emitted
      // with an empty body (the reference's posture, metadata.go:360-368):
      // downstream would otherwise execute `CREATE VIEW v AS ` — always
      // invalid — and fail the whole stage for an unreadable definition
      names.sorted.flatMap { n =>
        val body = viewSelectBody(defs.getOrElse(n.toLowerCase, ""))
        if (body.trim.isEmpty) None else Some(ViewMeta(n, body))
      }
    }

  /** S6: stored-function scan (`GetFunctions`, metadata.go:377-531). The
    * MySQL path is the reference's two-step SHOW FUNCTION STATUS → SHOW
    * CREATE FUNCTION (dynamic column lookup — field sets differ across
    * server versions); ANSI engines answer from
    * INFORMATION_SCHEMA.ROUTINES; Derby's Java-backed aliases are
    * reconstructed into executable CREATE FUNCTION DDL from SYS.SYSALIASES
    * (signature text + EXTERNAL NAME from the alias class/method). Per the
    * reference, a function whose definition cannot be fetched is skipped,
    * not fatal. */
  def listFunctions(url: String): Seq[FunctionMeta] =
    withConnection(url) { conn =>
      def cell(rs: java.sql.ResultSet, label: String): Option[String] = {
        val md = rs.getMetaData
        (1 to md.getColumnCount)
          .find(i => md.getColumnLabel(i).equalsIgnoreCase(label))
          .flatMap(i => Option(rs.getString(i)))
      }
      // MySQL: SHOW statements (fails fast on other engines)
      val viaShow = scala.util.Try {
        val rs = conn.createStatement()
          .executeQuery("SHOW FUNCTION STATUS WHERE Db = DATABASE()")
        val names = ArrayBuffer[String]()
        while (rs.next()) cell(rs, "Name").foreach(names += _)
        names.toSeq.flatMap { fn =>
          scala.util.Try {
            val fr = conn.createStatement()
              .executeQuery(s"SHOW CREATE FUNCTION `$fn`")
            if (fr.next()) cell(fr, "Create Function").map(FunctionMeta(fn, _))
            else None
          }.toOption.flatten
        }
      }.toOption
      lazy val viaRoutines = Seq(
        // schema-scoped first: an unfiltered ROUTINES read on engines with
        // populated system schemas (MySQL's sys) would leak built-in
        // functions into the migration
        "SELECT routine_name, routine_definition FROM INFORMATION_SCHEMA.ROUTINES " +
          "WHERE routine_type = 'FUNCTION' AND routine_schema = DATABASE()",
        "SELECT routine_name, routine_definition FROM INFORMATION_SCHEMA.ROUTINES " +
          "WHERE routine_type = 'FUNCTION' AND routine_schema = CURRENT_SCHEMA",
        "SELECT routine_name, routine_definition FROM INFORMATION_SCHEMA.ROUTINES " +
          "WHERE routine_type = 'FUNCTION'"
      ).view.flatMap { sql =>
        scala.util.Try {
          val rs = conn.createStatement().executeQuery(sql)
          val out = ArrayBuffer[FunctionMeta]()
          while (rs.next())
            out += FunctionMeta(rs.getString(1), Option(rs.getString(2)).getOrElse(""))
          out.toSeq
        }.toOption
      }.headOption
      lazy val viaDerby = scala.util.Try {
        val rs = conn.createStatement().executeQuery(
          "SELECT a.ALIAS, CAST(a.ALIASINFO AS VARCHAR(32672)), a.JAVACLASSNAME " +
          "FROM SYS.SYSALIASES a JOIN SYS.SYSSCHEMAS s ON a.SCHEMAID = s.SCHEMAID " +
          "WHERE a.ALIASTYPE = 'F' AND s.SCHEMANAME NOT LIKE 'SYS%'")
        val out = ArrayBuffer[FunctionMeta]()
        while (rs.next()) {
          val (alias, info, cls) = (rs.getString(1), rs.getString(2), rs.getString(3))
          val paren = info.indexOf('(')
          if (paren >= 0) {
            val method = info.substring(0, paren)
            out += FunctionMeta(alias,
              s"CREATE FUNCTION $alias${info.substring(paren)} EXTERNAL NAME '$cls.$method'")
          }
        }
        out.toSeq
      }.toOption
      // a SUCCESSFUL SHOW probe is terminal even when empty: it means
      // "MySQL source, zero user functions" — falling through to the
      // ROUTINES catalog would surface other schemas' functions instead
      viaShow
        .orElse(viaRoutines.filter(_.nonEmpty))
        .orElse(viaDerby)
        .getOrElse(Nil)
        .sortBy(_.name)
    }

  /** S7: user/grant scan (`GetUsers` + `getUserGrants`, metadata.go:
    * 534-589). MySQL: `mysql.user` minus the reference's system-account
    * exclusions, each with its SHOW GRANTS statements. Other engines have
    * no portable account catalog, so the scan degrades to what IS
    * portable: declared users (Derby SYS.SYSUSERS) unioned with distinct
    * grantees of table privileges, each carrying per-table GRANT
    * statements synthesized from [[listTablePrivileges]] — exactly the
    * shape [[graft.ddl.DdlConverter.userDdl]] consumes. */
  def listUsers(url: String): Seq[UserMeta] =
    withConnection(url) { conn =>
      val viaMysql = scala.util.Try {
        val rs = conn.createStatement().executeQuery(
          "SELECT user, host FROM mysql.user WHERE user != 'root' AND " +
          "user != 'mysql.sys' AND user != 'mysql.session' AND user != 'mysql.infoschema'")
        val accounts = ArrayBuffer[(String, String)]()
        while (rs.next()) accounts += ((rs.getString(1), rs.getString(2)))
        accounts.toSeq.map { case (u, h) =>
          val grants = scala.util.Try {
            val gr = conn.createStatement()
              .executeQuery(s"SHOW GRANTS FOR '$u'@'$h'")
            val out = ArrayBuffer[String]()
            while (gr.next()) out += gr.getString(1)
            out.toSeq
          }.getOrElse(Nil)
          UserMeta(s"$u@$h", grants)
        }
      }.toOption
      lazy val viaGeneric = {
        val declared = firstProbe(conn,
          Seq("SELECT USERNAME FROM SYS.SYSUSERS"))(_.getString(1))
        val privs = tablePrivsGeneric(conn)
        val byUser = privs.groupBy(_.user)
        (declared ++ byUser.keys).distinct.sorted.map { u =>
          UserMeta(u, byUser.getOrElse(u, Nil).map(p =>
            s"GRANT ${p.privCsv} ON ${p.table} TO $u"))
        }
      }
      // a SUCCESSFUL mysql.user read is terminal even when empty: the
      // query having worked proves this is the MySQL account catalog, and
      // an empty result means only excluded system accounts exist — the
      // generic grantee fallback would leak exactly those accounts back
      viaMysql.getOrElse(viaGeneric)
    }

  /** S8: table-privilege scan (`GetTablePrivileges`, metadata.go:601-625).
    * MySQL: `mysql.tables_priv` rows with non-empty privileges; elsewhere
    * the JDBC-standard `DatabaseMetaData.getTablePrivileges` rows are
    * regrouped to the same (user, table, privCsv) shape. */
  def listTablePrivileges(url: String): Seq[TablePrivMeta] =
    withConnection(url) { conn =>
      val viaMysql = scala.util.Try {
        val rs = conn.createStatement().executeQuery(
          "SELECT User, Table_name, Table_priv FROM mysql.tables_priv WHERE Table_priv != ''")
        val out = ArrayBuffer[TablePrivMeta]()
        while (rs.next())
          out += TablePrivMeta(rs.getString(1), rs.getString(2), rs.getString(3))
        out.toSeq
      }.toOption
      viaMysql.filter(_.nonEmpty).getOrElse(tablePrivsGeneric(conn))
    }

  private def tablePrivsGeneric(conn: Connection): Seq[TablePrivMeta] =
    scala.util.Try {
      val rs = conn.getMetaData.getTablePrivileges(null, null, "%")
      val rows = ArrayBuffer[(String, String, String)]()
      while (rs.next())
        rows += ((rs.getString("GRANTEE"), rs.getString("TABLE_NAME"),
          rs.getString("PRIVILEGE")))
      rows.groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1).map {
        case ((user, table), ps) =>
          TablePrivMeta(user, table, ps.map(_._3).distinct.sorted.mkString(","))
      }
    }.getOrElse(Nil)

  /** K1: driver-side DDL executor (`ExecuteDDL`, postgres/connection.go:
    * 79-91) — Spark has no DataFrame surface for arbitrary DDL. */
  def executeDdl(url: String, ddl: String): Unit =
    withConnection(url)(_.createStatement().execute(ddl))

  /** K6: the name `table` is stored under on `url`, if any (`TableExists`,
    * postgres/connection.go:357-373; skip-vs-create, manager.go:1228-1278).
    * The one table lookup: [[tableExists]], [[rowCount]], Transfer's JDBC
    * references and the privileges stage all resolve through it. Escaped
    * name-pattern probes in the current schema (where an unqualified
    * reference resolves), O(1) metadata rows each: the name as given first,
    * so a stored name wins over its case variants, then upper and lower
    * case; a mixed-case stored name falls back to a case-insensitive walk
    * of the schema, O(|schema|) rows paid on every miss. */
  def resolveTable(url: String, table: String): Option[String] =
    withConnection(url) { conn =>
      val md = conn.getMetaData
      val esc = Option(md.getSearchStringEscape).getOrElse("\\")
      def pattern(p: String) =
        p.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
      // MySQL's connector reports databases as catalogs and has no schema
      val schema = scala.util.Try(conn.getSchema).toOption.flatMap(Option(_))
      val catalog = scala.util.Try(conn.getCatalog).toOption.filter(_ => schema.isEmpty)
      // hits are checked by name: without an escape character a pattern
      // matches more than its name
      def first(p: String): Option[String] = {
        val rs = md.getTables(catalog.orNull, schema.map(pattern).orNull, p, Array("TABLE"))
        try {
          var hit: Option[String] = None
          while (hit.isEmpty && rs.next())
            hit = Some(rs.getString("TABLE_NAME")).filter(_.equalsIgnoreCase(table))
          hit
        } finally rs.close()
      }
      (Seq(table, table.toUpperCase, table.toLowerCase).distinct.map(pattern) :+ "%")
        .view.flatMap(first).headOption
    }

  /** K6 as a yes/no: does `url` hold `table`, in any case? */
  def tableExists(url: String, table: String): Boolean = resolveTable(url, table).isDefined

  /** S13: version probe (< 1 s test_only path, `cmd/main.go:96-144`). */
  def version(url: String): String =
    withConnection(url) { conn =>
      val md = conn.getMetaData
      s"${md.getDatabaseProductName} ${md.getDatabaseProductVersion}"
    }

  /** S11: row count through plain JDBC of `table`, named as Transfer
    * names it: resolved, and quoted by the dialect. */
  def rowCount(url: String, table: String): Long =
    countRows(url, org.apache.spark.sql.jdbc.JdbcDialects.get(url)
      .quoteIdentifier(resolveTable(url, table).getOrElse(table)))

  /** `SELECT COUNT(*)` of a finished SQL table reference. */
  private[graft] def countRows(url: String, ref: String): Long =
    withConnection(url) { conn =>
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $ref")
      rs.next(); rs.getLong(1)
    }

  /** `SELECT MIN(col), MAX(col)` of a finished SQL table reference, `col`
    * already quoted; None for an empty table. */
  private[graft] def keyBounds(url: String, ref: String, col: String): Option[(Long, Long)] =
    withConnection(url) { conn =>
      val rs = conn.createStatement().executeQuery(s"SELECT MIN($col), MAX($col) FROM $ref")
      rs.next()
      val lo = rs.getLong(1)
      if (rs.wasNull()) None else Some((lo, rs.getLong(2)))
    }

  /** S12: row-size estimate — the reference's columns×20-bytes heuristic
    * (`connection.go:232-245`), used to derive numPartitions for transfers. */
  def estimateRowSize(columns: Seq[ColumnMeta]): Int = columns.size * 20

  /** Partition-count heuristic for a transfer: target ~128 MB per task. */
  def suggestNumPartitions(rows: Long, rowSizeBytes: Int,
                           targetBytesPerPartition: Long = 128L << 20): Int =
    math.max(1, math.min(10000,
      (rows * rowSizeBytes / math.max(1L, targetBytesPerPartition)).toInt))
}
