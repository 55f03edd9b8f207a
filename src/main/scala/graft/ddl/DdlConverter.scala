package graft.ddl

import org.apache.spark.sql.types._
import graft.sqlrewrite.MySqlLexer
import graft.sqlrewrite.SqlRewriter.{matchParen, splitTopLevelCommas}
import graft.types.TypeMapper

/** MySQL `CREATE TABLE` → (Spark StructType, PostgreSQL DDL).
  *
  * Re-implements the reference's table-DDL conversion surface
  * (`ConvertTableDDL`, sync_tableddl.go:684-972 + helpers :178-681) on
  * [[MySqlLexer]] tokens instead of ordered regex passes: each body
  * element is classified by its leading words, and every clause is one
  * token or one balanced `(…)` group. Covered semantics:
  *  - quote-aware paren matching + top-level column-line splitting
  *    (:212-255, :709-776)
  *  - type mapping via [[TypeMapper]] (§1.2)
  *  - AUTO_INCREMENT → SERIAL/BIGSERIAL (:351-357, :793-821)
  *  - single-column PRIMARY KEY (:748-754, :914-924); composite PKs carried
  *  - CHECK constraints with ENFORCED strip + dedup (:424-437, :927-949)
  *  - charset/collate column+table modifiers removed (:369-384, :485-523)
  *  - engine/charset/row-format table options removed (:278-301)
  *  - PARTITION BY clauses removed (keywords.go:5-11, :270-276)
  *  - FULLTEXT / FOREIGN KEY / KEY / SPATIAL lines skipped (:737-745)
  *  - INVISIBLE columns dropped (:737-745)
  *  - column + table comments carried to COMMENT ON (:50-51, manager.go:1288-1414);
  *    literals decoded by MySQL's escape rules, re-quoted with `''`
  *  - zero-date defaults dropped (:616-619); TEMPORARY kept (:182-186)
  *  - generated columns: VIRTUAL → STORED keyword rewrite (:627-673)
  *  - optional identifier lowercasing (config.go:67, :783-790)
  *  - MySQL version comments stripped (:63, :270)
  *
  * Driver-side, cold path: at scale this never touches executors — the data
  * plane reads the source schema from the catalog/parquet footer directly.
  */
object DdlConverter {

  final case class ColumnSpec(
      name: String,
      mysqlType: String,
      nullable: Boolean,
      default: Option[String],
      comment: Option[String],
      autoIncrement: Boolean,
      generated: Option[String]) {
    def mapped: TypeMapper.MappedType = TypeMapper.map(mysqlType)
  }

  final case class TableSpec(
      name: String,
      temporary: Boolean,
      columns: Seq[ColumnSpec],
      primaryKey: Seq[String],
      checks: Seq[String],
      comment: Option[String])

  /** Backtick identifiers → PG double quotes (`` escapes unfolded, `"`
    * doubled), `#` comments → `--` comments; strings stay verbatim. */
  private[ddl] def requoteIdents(sql: String): String = pgQuoted(sql)(identity)

  /** PG-dialect scrub of [[graft.sqlrewrite.SqlRewriter.rewrite]] output:
    * the rewriter targets Spark SQL, which natively accepts IFNULL and
    * backtick identifiers, so it leaves them — PostgreSQL accepts neither.
    * Only the unambiguous swaps live here (backtick → double quote, IFNULL
    * → COALESCE, `#` comment → `--` comment, since PostgreSQL reads `#` as
    * XOR), and only in code: 'use IFNULL(..)' inside a string survives. */
  private[ddl] def pgScrub(sql: String): String =
    pgQuoted(sql)(_.replaceAll("(?i)\\bIFNULL\\s*\\(", "COALESCE("))

  private def pgQuoted(sql: String)(code: String => String): String =
    MySqlLexer.render(sql) { (r, text) =>
      r.kind match {
        case MySqlLexer.Code => code(text)
        case MySqlLexer.Ident =>
          val name = text.substring(1, if (r.closed) text.length - 1 else text.length)
          "\"" + name.replace("``", "`").replace("\"", "\"\"") + "\""
        // a line comment runs to a newline: `#` is spelled ` --` (the space
        // keeps `a-#x` from becoming `a---x`), and one that ends the text
        // gets its newline, so what a caller appends stays code
        case MySqlLexer.Comment if !text.startsWith("/*") =>
          (if (text.startsWith("#")) " --" + text.substring(1) else text) +
            (if (r.end == sql.length) "\n" else "")
        case _ => text
      }
    }

  // ------------------------------------------------------------- parsing

  /** One token of DDL text: a code word, a string or identifier with its
    * quotes, a lone `,`, `=` or `)`, or a balanced `(…)` group. */
  private final case class Tok(text: String) {
    def is(kw: String): Boolean = text.equalsIgnoreCase(kw)
    def word: Boolean = Punct.indexOf(text.head) < 0
    def group: Boolean = text.startsWith("(")
    def literal: Boolean = text.startsWith("'") || text.startsWith("\"")
    def inner: String = text.substring(1, text.length - 1)
    /** The identifier named: quotes dropped and doubled ones folded (`"…"`
      * is one under ANSI_QUOTES); of a dotted word, its last part. */
    def name: String = text.head match {
      case q @ ('`' | '"') => inner.replace(s"$q$q", q.toString)
      case _ => text.substring(text.lastIndexOf('.') + 1)
    }
  }

  private val Punct = "'\"`(),=" // each ends a code word

  /** `s` cut into tokens. Quotes and parens are read on the lexer's blank
    * mask, so nothing inside a string, identifier or group cuts one. */
  private def tokens(s: String): Vector[Tok] = {
    val mask = MySqlLexer.blank(s)
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < s.length) {
      val end = mask.charAt(i) match {
        case c if c.isWhitespace => i + 1
        case q @ ('\'' | '"' | '`') =>
          val close = mask.indexOf(q, i + 1)
          if (close < 0) s.length else close + 1
        case '(' =>
          val close = matchParen(s, i)
          require(close > i, s"unbalanced parentheses: ${s.take(60)}")
          close + 1
        case ')' | ',' | '=' => i + 1
        case _ =>
          val stop = mask.indexWhere(c => c.isWhitespace || Punct.indexOf(c) >= 0, i + 1)
          if (stop < 0) s.length else stop
      }
      if (!mask.charAt(i).isWhitespace) out += Tok(s.substring(i, end))
      i = end
    }
    out.result()
  }

  /** The tokens after the first `kw` word of `ts`. */
  private def after(ts: Seq[Tok], kw: String): Seq[Tok] = ts.dropWhile(!_.is(kw)).drop(1)

  private def comment(ts: Seq[Tok]): Option[String] =
    after(ts, "COMMENT").headOption.filter(_.literal).map(t => MySqlLexer.stringValue(t.text))

  private def pgString(value: String): String = "'" + value.replace("'", "''") + "'"

  def parse(ddl0: String): TableSpec = {
    val ddl = MySqlLexer.stripComments(ddl0).trim
    val toks = tokens(ddl)
    // CREATE [TEMPORARY] TABLE [IF NOT EXISTS] name (body) options
    val lead = toks.take(3).map(_.text.toUpperCase)
    val temporary = lead == Seq("CREATE", "TEMPORARY", "TABLE")
    if (!temporary && !lead.startsWith(Seq("CREATE", "TABLE")))
      throw new IllegalArgumentException(s"not a CREATE TABLE: ${ddl.take(60)}")
    var n = if (temporary) 3 else 2
    if (toks.lift(n).exists(_.is("IF"))) n += 3
    // a qualified name is parts joined by dots: db.t, `db`.`t`, `db`.t
    while (n + 1 < toks.length && (toks(n).text.endsWith(".") || toks(n + 1).text.startsWith(".")))
      n += 1
    require(toks.lift(n + 1).exists(_.group),
      s"no column body (LIKE/AS-SELECT copy form?): ${ddl.take(60)}")

    var pk: Seq[String] = Nil
    val cols = Vector.newBuilder[ColumnSpec]
    val checks = Vector.newBuilder[String]
    splitTopLevelCommas(toks(n + 1).inner).map(tokens).foreach { el =>
      // CONSTRAINT [symbol] is skipped: the word after it classifies
      val ts = if (!el.headOption.exists(_.is("CONSTRAINT"))) el
        else el.tail.dropWhile(t => !Seq("PRIMARY", "UNIQUE", "FOREIGN", "CHECK").exists(t.is))
      ts.headOption.fold("")(_.text.toUpperCase) match {
        case "PRIMARY" =>
          ts.find(_.group).foreach(g => pk = splitTopLevelCommas(g.inner)
            .flatMap(part => tokens(part).headOption).map(_.name)) // `a(10)`: prefix length dropped
        case "CHECK" => checks ++= ts.find(_.group).map(_.text) // [NOT] ENFORCED dropped
        case "KEY" | "INDEX" | "UNIQUE" | "FULLTEXT" | "SPATIAL" | "FOREIGN" =>
          // handled by the index converter / intentionally dropped (:737-745)
        case _ =>
          column(ts).foreach { c =>
            cols += c
            if (pk.isEmpty && ts.tail.exists(_.is("PRIMARY"))) pk = Seq(c.name)
          }
      }
    }

    // CHECK dedup (:927-949); of the table options only the comment is
    // kept, everything else (PARTITION BY too) is dropped
    TableSpec(toks(n).name, temporary, cols.result(), pk, checks.result().distinct,
      comment(toks.drop(n + 2).filterNot(_.is("="))))
  }

  /** A column: name, type (a word, PRECISION/VARYING, a group,
    * UNSIGNED/ZEROFILL), then attributes found by keyword (CHARACTER SET,
    * COLLATE, ON UPDATE go unread). None if INVISIBLE or typeless. */
  private def column(ts: Seq[Tok]): Option[ColumnSpec] = {
    if (ts.length < 2 || !ts(1).word) return None
    var e = 2
    if (ts.lift(e).exists(t => t.is("PRECISION") || t.is("VARYING"))) e += 1
    if (ts.lift(e).exists(_.group)) e += 1
    while (ts.lift(e).exists(t => t.is("UNSIGNED") || t.is("ZEROFILL"))) e += 1
    val attrs = ts.drop(e)
    if (attrs.exists(_.is("INVISIBLE"))) return None
    Some(ColumnSpec(
      name = ts.head.name,
      mysqlType = ts.slice(1, e).map(t => if (t.group) t.text else " " + t.text).mkString.trim,
      nullable = !attrs.sliding(2).exists(p => p.head.is("NOT") && p.last.is("NULL")),
      default = defaultValue(after(attrs, "DEFAULT")),
      comment = comment(attrs),
      autoIncrement = attrs.exists(_.is("AUTO_INCREMENT")),
      // `GENERATED ALWAYS` is optional: `c int AS (expr)` is one too;
      // VIRTUAL → STORED at emit (:627-673)
      generated = after(attrs, "AS").headOption.filter(_.group).map(_.text)))
  }

  /** The DEFAULT value that starts `ts`, as PostgreSQL text: a string
    * (decoded, re-quoted; zero dates dropped, :616-619), a word with its
    * string or group (`b'01'`, `CURRENT_TIMESTAMP(6)`), a lone word (a
    * number, NULL, TRUE), or one group (`(RAND() * 100)`). */
  private def defaultValue(ts: Seq[Tok]): Option[String] = ts.headOption.flatMap { t =>
    if (t.literal)
      Some(MySqlLexer.stringValue(t.text)).filterNot(_.startsWith("0000-00-00")).map(pgString)
    else if (t.group) Some(t.text)
    else Some(t.text + ts.lift(1).filter(x => x.group || x.literal).fold("")(_.text))
  }

  // ------------------------------------------------------------ emission

  /** PostgreSQL reserved-word-safe identifier: always double-quote, like the
    * reference (sync_viewddl.go:923-934, sync_tableddl.go:891). */
  private def q(ident: String, lower: Boolean): String =
    "\"" + (if (lower) ident.toLowerCase else ident) + "\""

  /** Original→converted identifier map threaded from DDL conversion to
    * index/comment conversion (reference sync_tableddl.go:173,
    * manager.go:30,1219-1220,1464-1466). */
  def columnNameMap(spec: TableSpec, lowercase: Boolean): Map[String, String] =
    (spec.columns.map(_.name).map(n => n -> (if (lowercase) n.toLowerCase else n))
      :+ (spec.name -> (if (lowercase) spec.name.toLowerCase else spec.name))).toMap

  /** Transfer-facing StructType, without the generated columns the target
    * computes. `mysqlCompat = true` serves the source's views: MySQL's own
    * runtime typing (tinyint(1) numeric, native TIME), generated columns kept. */
  def toStructType(spec: TableSpec, mysqlCompat: Boolean = false): StructType =
    StructType(spec.columns.filter(c => mysqlCompat || c.generated.isEmpty).map { c =>
      val m = new MetadataBuilder()
      c.comment.foreach(m.putString("comment", _))
      c.default.foreach(m.putString("default", _))
      val t =
        if (mysqlCompat)
          TypeMapper.map(c.mysqlType, tinyint1Boolean = false, timeNative = true).spark
        else c.mapped.spark
      StructField(c.name, t, c.nullable, m.build())
    })

  /** Emit PG CREATE TABLE + COMMENT ON statements. */
  def toPostgresDdl(spec: TableSpec, lowercase: Boolean = false): Seq[String] = {
    val colLines = spec.columns.map { c =>
      val pgType =
        if (c.autoIncrement) TypeMapper.serialFor(c.mysqlType).getOrElse(c.mapped.pg)
        else c.mapped.pg
      val base = s"  ${q(c.name, lowercase)} $pgType"
      val gen = c.generated.map(g =>
        s" GENERATED ALWAYS AS ${requoteIdents(g)} STORED").getOrElse("")
      val nn = if (!c.nullable && !c.autoIncrement) " NOT NULL" else ""
      val dflt = c.default.filter(_ => c.generated.isEmpty && !c.autoIncrement)
        .map(d => s" DEFAULT $d").getOrElse("")
      base + gen + nn + dflt
    }
    val pkLine =
      if (spec.primaryKey.nonEmpty)
        Seq(s"  PRIMARY KEY (${spec.primaryKey.map(q(_, lowercase)).mkString(", ")})")
      else Nil
    // real SHOW CREATE TABLE output backtick-quotes identifiers inside
    // constraint bodies — PG needs double quotes
    val checkLines = spec.checks.map(c => s"  CHECK ${requoteIdents(c)}")
    val tempKw = if (spec.temporary) "TEMPORARY " else ""
    val create =
      s"CREATE ${tempKw}TABLE ${q(spec.name, lowercase)} (\n" +
        (colLines ++ pkLine ++ checkLines).mkString(",\n") + "\n)"
    val tableComment = spec.comment.map(c =>
      s"COMMENT ON TABLE ${q(spec.name, lowercase)} IS ${pgString(c)}")
    val colComments = spec.columns.flatMap(c => c.comment.map(cm =>
      s"COMMENT ON COLUMN ${q(spec.name, lowercase)}.${q(c.name, lowercase)} IS ${pgString(cm)}"))
    Seq(create) ++ tableComment ++ colComments
  }

  /** The reference's multi-format `COMMENT ON COLUMN` retry
    * (manager.go:1337-1414): a comment that fails under the emitted
    * quoting is re-tried under the other casings/quotings a PG-side
    * identifier may have folded to — quoted lower, quoted upper, fully
    * unquoted — before being reported as failed. Pure variant
    * generation; [[graft.pipeline.Pipeline.execLenient]] walks the list
    * on execution failure. Returns Nil for anything that is not a
    * single-column comment statement. */
  def columnCommentFallbacks(ddl: String): Seq[String] = {
    // optional leading schema qualifier (schema.table.col) passes through
    // unchanged — PG-side folding can affect any emitted identifier, and
    // a schema-qualified comment previously got no retry variants at all
    val Re = ("(?is)^\\s*COMMENT\\s+ON\\s+COLUMN\\s+" +
      "(?:(\"?)([\\w$]+)\\1\\.)?(\"?)([\\w$]+)\\3\\.(\"?)([\\w$]+)\\5" +
      "\\s+IS\\s+(.+)$").r
    ddl.trim match {
      case Re(_, schema, _, tbl, _, col, lit) =>
        val pre = Option(schema).map(s => s""""$s".""").getOrElse("")
        // the schema qualifier can fold independently of the table (an
        // unquoted CREATE SCHEMA folds to lowercase while the table kept
        // its quoted case) — retry the folded-schema spelling too
        val preLower =
          Option(schema).map(s => s""""${s.toLowerCase}".""").getOrElse("")
        val preBare = Option(schema).map(_ + ".").getOrElse("")
        Seq(
          s"""COMMENT ON COLUMN $pre"$tbl"."$col" IS $lit""",
          s"""COMMENT ON COLUMN $pre"$tbl"."${col.toLowerCase}" IS $lit""",
          s"""COMMENT ON COLUMN $pre"$tbl"."${col.toUpperCase}" IS $lit""",
          s"""COMMENT ON COLUMN $pre"${tbl.toLowerCase}"."${col.toLowerCase}" IS $lit""",
          s"""COMMENT ON COLUMN $preLower"$tbl"."${col.toLowerCase}" IS $lit""",
          s"""COMMENT ON COLUMN $preLower"${tbl.toLowerCase}"."${col.toLowerCase}" IS $lit""",
          s"""COMMENT ON COLUMN $preBare$tbl.$col IS $lit""")
          .distinct.filterNot(_ == ddl.trim)
      case _ => Nil
    }
  }

  /** Target CREATE TABLE straight from a Spark schema (for sources that
    * carry schema natively — parquet footers, JDBC metadata — where no
    * MySQL DDL text exists to parse). Types are the ANSI spellings Derby
    * and PostgreSQL share (DOUBLE PRECISION, not DOUBLE — PG has no bare
    * DOUBLE); binary is the one divergent type, chosen per target dialect
    * (PG BYTEA / everywhere-else BLOB). */
  def ddlForSchema(table: String, schema: StructType,
                   lowercase: Boolean = false,
                   targetUrl: String = "jdbc:postgresql:"): String = {
    val binary = if (targetUrl.startsWith("jdbc:postgresql")) "BYTEA" else "BLOB"
    def sqlType(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case DoubleType => "DOUBLE PRECISION"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case BinaryType => binary
      case StringType => "VARCHAR(4000)"
      case other => "VARCHAR(4000)"
    }
    val cols = schema.fields.map { f =>
      s"  ${q(f.name, lowercase)} ${sqlType(f.dataType)}" +
        (if (f.nullable) "" else " NOT NULL")
    }
    s"CREATE TABLE ${q(table, lowercase)} (\n${cols.mkString(",\n")}\n)"
  }

  // ------------------------------------------- view (sync_viewddl.go)

  /** `ConvertViewDDL` (sync_viewddl.go:141-917): rewrite the MySQL SELECT
    * body via [[graft.sqlrewrite.SqlRewriter]] and wrap it as a drop +
    * create-or-replace pair (the reference emits
    * `DROP VIEW IF EXISTS ... CASCADE; CREATE OR REPLACE VIEW ... AS ...`).
    * Returned as two statements because JDBC `Statement.execute` targets
    * generally reject multi-statement strings; the drop is best-effort
    * (ignorable failure) so a fresh target works without it. */
  def viewDdl(view: String, selectBody: String,
              lowercase: Boolean = false): Seq[String] = {
    val body0 = graft.sqlrewrite.SqlRewriter.rewrite(selectBody.trim)
      .stripSuffix(";").trim
    // lowercase with literals MASKED: the reference lowercases the whole
    // statement including string literals (sync_viewddl.go:915), which
    // silently changes WHERE status = 'ACTIVE' semantics — masking first
    // keeps identifier folding without corrupting data comparisons
    val body1 =
      if (lowercase) graft.sqlrewrite.SqlRewriter.lowercaseOutsideLiterals(body0)
      else body0
    // DIALECT BOUNDARY: SqlRewriter targets Spark SQL (the repo executes
    // rewritten views through Catalyst — operators/Views.scala); when the
    // emitted DDL runs on a JDBC target instead, pgScrub applies the
    // unambiguous swaps. Views whose bodies need Spark-specific constructs
    // (GROUP_CONCAT's collect_list lambdas, Java date patterns) remain
    // Spark-dialect and will be reported as stage failures on targets that
    // cannot parse them rather than silently rewritten to something
    // different.
    val body = pgScrub(body1)
    Seq(
      s"DROP VIEW IF EXISTS ${q(view, lowercase)} CASCADE",
      s"CREATE OR REPLACE VIEW ${q(view, lowercase)} AS $body")
  }

  // ------------------------------------------- index / user / priv (D2-D4)

  /** `ConvertIndexDDL` (sync_indexes.go:11-87): table-prefixed name,
    * truncated to PG's 63-byte identifier limit. */
  def indexDdl(table: String, index: String, columns: Seq[String],
               unique: Boolean, lowercase: Boolean = false): Option[String] = {
    if (columns.isEmpty || index.equalsIgnoreCase("PRIMARY")) return None
    val name0 = s"${table}_$index"
    val name = if (name0.length > 63) name0.substring(0, 63) else name0
    val u = if (unique) "UNIQUE " else ""
    Some(s"CREATE ${u}INDEX IF NOT EXISTS ${q(name, lowercase)} ON ${q(table, lowercase)} " +
      s"(${columns.map(q(_, lowercase)).mkString(", ")})")
  }

  /** `ConvertUserDDL` (sync_user_privilege.go:11-74): host part stripped
    * (`'u'@'%'` → `u`, :15-19 — PG roles have no host), skip mysql.*
    * accounts, dots → underscores, CREATE USER + grant expansion. The
    * stripped name is what the privileges stage grants to, so both stages
    * target the SAME role. */
  def userDdl(user: String, grants: Seq[String]): Seq[String] = {
    val bare = user.split("@")(0)
    if (bare.startsWith("mysql.")) return Nil
    val u = bare.replace(".", "_")
    val create =
      s"""DO $$$$ BEGIN CREATE USER "$u"; EXCEPTION WHEN duplicate_object THEN NULL; END $$$$"""
    val converted = grants.flatMap { g =>
      // parse the privilege LIST (everything before ON), word-bounded:
      // a substring scan over the whole statement matched object names —
      // "GRANT SELECT ON `insert_log`" silently granted INSERT too
      // (privilege escalation on the target)
      val head = g.toUpperCase.split("(?i)\\bON\\b")(0)
      if (head.contains("ALL PRIVILEGES"))
        Seq(s"""GRANT ALL PRIVILEGES ON ALL TABLES IN SCHEMA public TO "$u"""",
            s"""GRANT ALL PRIVILEGES ON ALL SEQUENCES IN SCHEMA public TO "$u"""")
      else {
        val privs = Seq("SELECT", "INSERT", "UPDATE", "DELETE")
          .filter(p => ("\\b" + p + "\\b").r.findFirstIn(head).isDefined)
        if (privs.nonEmpty)
          Seq(s"""GRANT ${privs.mkString(", ")} ON ALL TABLES IN SCHEMA public TO "$u"""")
        else Nil
      }
    }
    create +: converted
  }

  /** `ConvertTablePrivilegeDDL` (sync_table_privilege.go:12-51); user
    * names normalize exactly like [[userDdl]] (host stripped,
    * dots → underscores) so grants land on the role that stage created. */
  def tablePrivDdl(user: String, table: String, privCsv: String): Seq[String] =
    privCsv.split(",").map(_.trim).filter(_.nonEmpty).map { p =>
      s"""GRANT ${p.toUpperCase} ON "$table" TO "${user.split("@")(0).replace(".", "_")}""""
    }.toSeq
}
