package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.ddl.DdlConverter
import graft.ddl.DdlConverter.parse

/** Golden tests over the reference's DDL corpus shapes (FIXTURES.md §A). */
class DdlConverterSpec extends AnyFunSuite {

  test("case_01: basic columns + engine/charset options dropped") {
    val spec = parse(
      """CREATE TABLE case_01_integers (
        |  col_tiny tinyint, col_int int, col_big bigint
        |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4""".stripMargin)
    assert(spec.name == "case_01_integers")
    assert(spec.columns.map(_.name) == Seq("col_tiny", "col_int", "col_big"))
    assert(DdlConverter.toStructType(spec) == StructType(Seq(
      StructField("col_tiny", ShortType),
      StructField("col_int", IntegerType),
      StructField("col_big", LongType))))
    val ddl = DdlConverter.toPostgresDdl(spec).head
    assert(ddl.contains("\"col_tiny\" SMALLINT"))
    assert(!ddl.toUpperCase.contains("ENGINE"))
  }

  test("case_11: auto_increment primary key → SERIAL + PK") {
    val spec = parse(
      "CREATE TABLE t (id int AUTO_INCREMENT PRIMARY KEY, name varchar(50) NOT NULL)")
    assert(spec.primaryKey == Seq("id"))
    val ddl = DdlConverter.toPostgresDdl(spec).head
    assert(ddl.contains("\"id\" SERIAL"))
    assert(ddl.contains("PRIMARY KEY (\"id\")"))
    assert(ddl.contains("\"name\" VARCHAR(50) NOT NULL"))
    // an inline PRIMARY KEY on the line after its column
    assert(parse("CREATE TABLE t (id int\n    PRIMARY KEY, b int)").primaryKey == Seq("id"))
  }

  test("case_24: bigint unsigned auto_increment → BIGSERIAL") {
    val spec = parse(
      "CREATE TABLE t (c4 bigint unsigned NOT NULL AUTO_INCREMENT, PRIMARY KEY (c4))")
    val ddl = DdlConverter.toPostgresDdl(spec).head
    assert(ddl.contains("\"c4\" BIGSERIAL"))
    assert(spec.primaryKey == Seq("c4"))
  }

  test("case_19: comments with quote escaping") {
    val spec = parse(
      """CREATE TABLE t (
        |  c1 int COMMENT 'Simple comment',
        |  c3 int COMMENT 'Comment with '' quote'
        |) COMMENT='Table comment'""".stripMargin)
    assert(spec.comment == Some("Table comment"))
    assert(spec.columns(1).comment == Some("Comment with ' quote"))
    val stmts = DdlConverter.toPostgresDdl(spec)
    assert(stmts.exists(_ == "COMMENT ON TABLE \"t\" IS 'Table comment'"))
    assert(stmts.exists(_.contains("IS 'Comment with '' quote'")))
    // backslash escapes are decoded, then re-quoted with '' doubling
    val esc = parse(
      "CREATE TABLE t (c int COMMENT 'it\\'s here', d varchar(5) DEFAULT 'x\\'y') COMMENT='tab\\'le'")
    assert(esc.comment.contains("tab'le"))
    assert(esc.columns.map(c => (c.comment, c.default)) ==
      Seq((Some("it's here"), None), (None, Some("'x''y'"))))
    val escDdl = DdlConverter.toPostgresDdl(esc)
    assert(escDdl.head.contains("\"d\" VARCHAR(5) DEFAULT 'x''y'"), escDdl.head)
    assert(escDdl.tail == Seq("COMMENT ON TABLE \"t\" IS 'tab''le'",
      "COMMENT ON COLUMN \"t\".\"c\" IS 'it''s here'"))
  }

  test("case_27: CHECK with ENFORCED strip + dedup") {
    val spec = parse(
      """CREATE TABLE t (
        |  age int,
        |  CONSTRAINT chk_age CHECK (age > 18) ENFORCED,
        |  CHECK (age > 18) NOT ENFORCED,
        |  CHECK (age < 150)
        |)""".stripMargin)
    assert(spec.checks == Seq("(age > 18)", "(age < 150)"))
    val ddl = DdlConverter.toPostgresDdl(spec).head
    assert(ddl.contains("CHECK (age > 18)"))
    assert(!ddl.toUpperCase.contains("ENFORCED"))
    // a CHECK written over two lines is kept
    assert(parse("CREATE TABLE t (\n  a int,\n  CHECK (a >\n 0)\n)").checks == Seq("(a >\n 0)"))
  }

  test("case_21: generated columns, VIRTUAL → STORED") {
    val spec = parse(
      """CREATE TABLE t (
        |  c1 int,
        |  c2 int GENERATED ALWAYS AS (c1 * 2) STORED,
        |  c3 int GENERATED ALWAYS AS (c1 + 1) VIRTUAL
        |)""".stripMargin)
    assert(spec.columns.count(_.generated.isDefined) == 2)
    val ddl = DdlConverter.toPostgresDdl(spec).head
    assert(ddl.contains("GENERATED ALWAYS AS (c1 * 2) STORED"))
    assert(ddl.contains("GENERATED ALWAYS AS (c1 + 1) STORED")) // VIRTUAL rewritten
    // generated columns excluded from the transfer StructType
    assert(DdlConverter.toStructType(spec).fieldNames.toSeq == Seq("c1"))
    // but kept where the source's views read them
    assert(DdlConverter.toStructType(spec, mysqlCompat = true).fieldNames.toSeq ==
      Seq("c1", "c2", "c3"))
    // the short form without GENERATED ALWAYS is a generated column too
    val short = parse("CREATE TABLE t (c1 int, c4 varchar(20) AS (concat('n', c1)) VIRTUAL)")
    assert(short.columns.map(_.generated) == Seq(None, Some("(concat('n', c1))")))
    // an expression over two lines stays a generated column, out of the
    // transfer schema
    val split = parse("CREATE TABLE t (a int,\n  b int GENERATED ALWAYS AS (a\n + 1) STORED)")
    assert(split.columns.map(_.generated) == Seq(None, Some("(a\n + 1)")))
    assert(DdlConverter.toStructType(split).fieldNames.toSeq == Seq("a"))
  }

  test("case_16: partition clause removed; case_17: TEMPORARY kept") {
    val spec = parse(
      """CREATE TABLE t (id int, created date)
        |PARTITION BY RANGE (YEAR(created)) (
        |  PARTITION p0 VALUES LESS THAN (2000),
        |  PARTITION p1 VALUES LESS THAN MAXVALUE
        |)""".stripMargin)
    val ddl = DdlConverter.toPostgresDdl(spec).head
    assert(!ddl.toUpperCase.contains("PARTITION"))
    val tmp = parse("CREATE TEMPORARY TABLE tt (a int)")
    assert(tmp.temporary)
    assert(DdlConverter.toPostgresDdl(tmp).head.startsWith("CREATE TEMPORARY TABLE"))
  }

  test("case_25: reserved words round-trip quoted") {
    val spec = parse(
      "CREATE TABLE kw (`rank` int, `system` varchar(10), `window` varchar(20))")
    val ddl = DdlConverter.toPostgresDdl(spec).head
    assert(ddl.contains("\"rank\" INTEGER"))
    assert(ddl.contains("\"window\" VARCHAR(20)"))
  }

  test("case_36: lowercase folding") {
    val spec = parse("CREATE TABLE MixedCase (UserID int, UserName varchar(10))")
    val ddl = DdlConverter.toPostgresDdl(spec, lowercase = true).head
    assert(ddl.contains("\"mixedcase\""))
    assert(ddl.contains("\"userid\" INTEGER"))
  }

  test("case_26: INVISIBLE columns dropped; keys/fulltext/fk skipped") {
    val spec = parse(
      """CREATE TABLE t (
        |  id int,
        |  hidden int INVISIBLE,
        |  name varchar(20),
        |  KEY idx_name (name),
        |  FULLTEXT KEY ft_name (name),
        |  FOREIGN KEY (id) REFERENCES other(id)
        |)""".stripMargin)
    assert(spec.columns.map(_.name) == Seq("id", "name"))
    // a named FOREIGN KEY constraint over two lines is dropped whole
    val fk = parse(
      """CREATE TABLE t (
        |  id int,
        |  CONSTRAINT fk_t FOREIGN KEY (id) REFERENCES other (id)
        |    ON DELETE CASCADE
        |)""".stripMargin)
    assert(fk.columns.map(_.name) == Seq("id"))
    assert(!DdlConverter.toPostgresDdl(fk).head.contains("CONSTRAINT"))
  }

  test("zero-date defaults dropped, charset modifiers scrubbed") {
    val spec = parse(
      """CREATE TABLE t (
        |  d datetime DEFAULT '0000-00-00 00:00:00',
        |  s varchar(10) CHARACTER SET utf8 COLLATE utf8_general_ci DEFAULT 'x',
        |  ts timestamp DEFAULT CURRENT_TIMESTAMP ON UPDATE CURRENT_TIMESTAMP
        |)""".stripMargin)
    assert(spec.columns(0).default.isEmpty)
    assert(spec.columns(1).default == Some("'x'"))
    assert(spec.columns(1).mysqlType == "varchar(10)")
    assert(spec.columns(2).default == Some("CURRENT_TIMESTAMP"))
    // an expression default is one group; a bit literal keeps its quotes
    val expr = parse(
      "CREATE TABLE t (a double DEFAULT (RAND() * 100), b int DEFAULT (1 + 2), c bit(8) DEFAULT b'00000001')")
    assert(expr.columns.map(_.default) ==
      Seq(Some("(RAND() * 100)"), Some("(1 + 2)"), Some("b'00000001'")))
  }

  test("case_44: composite primary key") {
    val spec = parse(
      "CREATE TABLE t (a int NOT NULL, b int NOT NULL, c varchar(5), PRIMARY KEY (a, b))")
    assert(spec.primaryKey == Seq("a", "b"))
    assert(DdlConverter.toPostgresDdl(spec).head.contains("PRIMARY KEY (\"a\", \"b\")"))
    // a named PRIMARY KEY constraint
    assert(parse("CREATE TABLE t (id int, CONSTRAINT pk_a PRIMARY KEY (id))").primaryKey == Seq("id"))
  }

  test("prefix-length index columns cleaned in PK") {
    val spec = parse("CREATE TABLE t (a varchar(100), PRIMARY KEY (a(10)))")
    assert(spec.primaryKey == Seq("a"))
  }

  test("index converter: prefix, unique, 63-byte truncation, PRIMARY skip") {
    assert(DdlConverter.indexDdl("orders", "idx_cust", Seq("o_custkey"), unique = false) ==
      Some("CREATE INDEX IF NOT EXISTS \"orders_idx_cust\" ON \"orders\" (\"o_custkey\")"))
    assert(DdlConverter.indexDdl("t", "u", Seq("a", "b"), unique = true).get
      .startsWith("CREATE UNIQUE INDEX"))
    assert(DdlConverter.indexDdl("t", "PRIMARY", Seq("a"), unique = true).isEmpty)
    val long = "x" * 80
    val name = DdlConverter.indexDdl("t", long, Seq("a"), unique = false).get
    assert(name.contains("\"t_" + ("x" * 61) + "\""))
  }

  test("user + table-privilege converters") {
    val stmts = DdlConverter.userDdl("app.user", Seq("GRANT SELECT, INSERT ON *.* TO 'app.user'@'%'"))
    assert(stmts.head.contains("CREATE USER \"app_user\""))
    assert(stmts(1) == "GRANT SELECT, INSERT ON ALL TABLES IN SCHEMA public TO \"app_user\"")
    assert(DdlConverter.userDdl("mysql.sys", Seq("GRANT ALL")) == Nil)
    assert(DdlConverter.tablePrivDdl("u", "t", "Select,Update") ==
      Seq("GRANT SELECT ON \"t\" TO \"u\"", "GRANT UPDATE ON \"t\" TO \"u\""))
  }

  test("55-column style all-types table parses completely") {
    val spec = parse(
      """CREATE TABLE wide (
        |  a tinyint(1), b smallint, c mediumint, d int unsigned, e bigint,
        |  f decimal(20,4), g float, h double, i char(5), j varchar(100),
        |  k text, l blob, m date, n time(3), o datetime(6), p timestamp,
        |  q year, r enum('a','b'), s set('x'), t json, u point, v geometry
        |) ENGINE=InnoDB""".stripMargin)
    assert(spec.columns.size == 22)
    val st = DdlConverter.toStructType(spec)
    assert(st("a").dataType == BooleanType)
    assert(st("d").dataType == LongType)        // unsigned widened
    assert(st("f").dataType == DecimalType(20, 4))
    assert(st("n").dataType == LongType)        // TIME as micros-of-day
    assert(st("u").dataType == BinaryType)
  }

  test("columns whose names share a keyword prefix are not dropped") {
    val spec = DdlConverter.parse(
      """CREATE TABLE t (
        |  id int NOT NULL,
        |  keyword varchar(50),
        |  checksum bigint,
        |  index_no int,
        |  KEY idx_kw (keyword)
        |)""".stripMargin)
    assert(spec.columns.map(_.name) == Seq("id", "keyword", "checksum", "index_no"))
  }

  test("keywords inside COMMENT/DEFAULT literals do not classify") {
    val spec = DdlConverter.parse(
      """CREATE TABLE t (
        |  id int,
        |  note varchar(30) COMMENT 'the PRIMARY KEY is external',
        |  flags varchar(10) COMMENT 'marks INVISIBLE rows',
        |  status varchar(8) DEFAULT 'NOT NULL'
        |)""".stripMargin)
    assert(spec.columns.map(_.name) == Seq("id", "note", "flags", "status"))
    assert(spec.primaryKey.isEmpty, "literal PRIMARY KEY must not promote")
    assert(spec.columns.find(_.name == "status").exists(_.nullable),
      "literal 'NOT NULL' default must not flip nullability")
    assert(spec.columns.find(_.name == "note")
      .flatMap(_.comment).contains("the PRIMARY KEY is external"))
  }

  test("CHECK after a shifting string literal extracts the right expression") {
    // a quoted constraint name / any literal before CHECK used to shift the
    // masked-string offset used against the raw line (token mask changes
    // lengths) — the extracted expression came out garbled or dropped
    val spec = DdlConverter.parse(
      """CREATE TABLE t (
        |  id int,
        |  CONSTRAINT "age range check" CHECK (id > 0 AND id < 150),
        |  CHECK(id <> 13)
        |)""".stripMargin)
    assert(spec.checks == Seq("(id > 0 AND id < 150)", "(id <> 13)"))
  }

  test("commas and parens inside literals do not split or unbalance") {
    val spec = DdlConverter.parse(
      """CREATE TABLE t (
        |  id int,
        |  note varchar(40) DEFAULT 'a, b' COMMENT 'closes ) and opens (',
        |  tag varchar(10)
        |) COMMENT='top, level'""".stripMargin)
    assert(spec.columns.map(_.name) == Seq("id", "note", "tag"))
    assert(spec.columns.find(_.name == "note").flatMap(_.default).contains("'a, b'"))
    assert(spec.columns.find(_.name == "note")
      .flatMap(_.comment).contains("closes ) and opens ("))
    assert(spec.comment.contains("top, level"))
  }

  test("apostrophe inside a backtick identifier does not mask the next column") {
    val spec = DdlConverter.parse(
      "CREATE TABLE t (`it's` int, b varchar(5) DEFAULT 'z')")
    assert(spec.columns.map(_.name) == Seq("it's", "b"))
    assert(spec.columns.find(_.name == "b").flatMap(_.default).contains("'z'"))
    // doubled-backtick escape: identifier containing a literal backtick
    val esc = DdlConverter.parse(
      "CREATE TABLE t2 (`a``b` int, c int)")
    assert(esc.columns.map(_.name).length == 2)
    assert(esc.columns.last.name == "c")
    // a backtick inside a "…" string is string text, not an identifier
    val dq = DdlConverter.toPostgresDdl(DdlConverter.parse(
      "CREATE TABLE t (a INT, CHECK (b <> \"x`y\"), c INT)"))
    assert(dq.head.contains("CHECK (b <> \"x`y\")"), dq.head)
    // a backslash inside a backtick identifier escapes nothing: the view
    // keeps its table and its IFNULL still becomes COALESCE
    val vd = DdlConverter.viewDdl("v", "SELECT `a\\` , IFNULL(b, 0) FROM t")
    assert(vd.last == "CREATE OR REPLACE VIEW \"v\" AS SELECT \"a\\\" , COALESCE(b, 0) FROM t",
      vd.last)
    // PostgreSQL reads # as XOR: a MySQL # comment becomes a -- comment
    assert(DdlConverter.viewDdl("v", "SELECT a # note\nFROM t").last ==
      "CREATE OR REPLACE VIEW \"v\" AS SELECT a  -- note\nFROM t")
    // ... after a space, so a minus before it stays a minus (`a---x` would
    // comment out from the minus and alias a as b), and a comment that
    // ends the text ends in a newline
    assert(DdlConverter.viewDdl("v", "SELECT a-#x\n b FROM t").last ==
      "CREATE OR REPLACE VIEW \"v\" AS SELECT a- --x\n b FROM t")
    assert(DdlConverter.viewDdl("v", "SELECT a FROM t # note").last ==
      "CREATE OR REPLACE VIEW \"v\" AS SELECT a FROM t  -- note\n")
  }

  test("parens, commas, and keywords inside backtick identifiers are inert") {
    // '(' in an identifier must not unbalance the body matcher
    val p = DdlConverter.parse("CREATE TABLE t (`a(b` int, c int)")
    assert(p.columns.map(_.name) == Seq("a(b", "c"))
    // ',' in an identifier must not split the column line
    val m = DdlConverter.parse("CREATE TABLE t (`x,y` int, c int)")
    assert(m.columns.map(_.name) == Seq("x,y", "c"))
    // CHECK inside a CONSTRAINT name must not classify the FK line as a
    // CHECK constraint (it is a dropped-line kind, not a check)
    val fk = DdlConverter.parse(
      "CREATE TABLE t (a int, CONSTRAINT `must check` FOREIGN KEY (a) REFERENCES u(a))")
    assert(fk.columns.map(_.name) == Seq("a"))
    assert(fk.checks.isEmpty)
    // a column NAMED `primary key` must not become the table's PK
    val pk = DdlConverter.parse("CREATE TABLE t (`primary key` int, b int)")
    assert(pk.primaryKey.isEmpty)
    assert(pk.columns.map(_.name) == Seq("primary key", "b"))
    // the table is the last identifier of its possibly qualified name
    assert(DdlConverter.parse("CREATE TABLE `my table` (a int)").name == "my table")
    assert(DdlConverter.parse("CREATE TABLE `db`.`t.x` (a int)").name == "t.x")
  }

  test("corpus: every parseable table keeps its primary key, columns and defaults whole") {
    import graft.sqlrewrite.MySqlLexer
    // the LIKE / AS SELECT copy forms have no column body
    val tables = MySqlFixtures.statements("create_table.sql")
      .filter(_.toUpperCase.startsWith("CREATE"))
      .filterNot(t => Set("LIKE", "AS")(t.split("\\s+")(3).toUpperCase))
    assert(tables.size == 61)
    def balanced(sql: String): Boolean =
      MySqlLexer.codeIndexes(sql).map(sql.charAt).foldLeft(0) {
        case (d, _) if d < 0 => d
        case (d, '(') => d + 1
        case (d, ')') => d - 1
        case (d, _) => d
      } == 0
    val wrong = tables.flatMap { mysql =>
      val spec = parse(mysql)
      val words = MySqlLexer.blank(mysql).toUpperCase.split("\\s+").toSeq
      val problems = Seq(
        "no PRIMARY KEY" -> (words.sliding(2).contains(Seq("PRIMARY", "KEY")) &&
          !DdlConverter.toPostgresDdl(spec).head.contains("PRIMARY KEY (")),
        "columns" -> (spec.name == "case_41_foreign_key" &&
          spec.columns.map(_.name) != Seq("id", "key", "parent_id", "owner_id")),
        "DEFAULT" -> spec.columns.flatMap(_.default).exists(d =>
          !balanced(d) || Set("b", "x").contains(d.toLowerCase)))
      problems.collect { case (what, true) => s"${spec.name}: $what" }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("ddlForSchema emits PG-valid types for PG targets, BLOB elsewhere") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("d", DoubleType), StructField("b", BinaryType)))
    val pg = DdlConverter.ddlForSchema("t", schema)
    assert(pg.contains("DOUBLE PRECISION") && pg.contains("BYTEA") &&
      !pg.contains("\"d\" DOUBLE\n"))
    val derby = DdlConverter.ddlForSchema("t", schema, targetUrl = "jdbc:derby:x")
    assert(derby.contains("DOUBLE PRECISION") && derby.contains("BLOB"))
  }

  test("column-comment retry formats cover the reference's quoting fallbacks") {
    // reference parity (manager.go:1337-1414): a mixed-case / reserved-word
    // column comment that fails as emitted retries quoted-lower,
    // quoted-upper, and unquoted before giving up
    val emitted = """COMMENT ON COLUMN "Orders"."Select" IS 'keyword col'"""
    val fb = DdlConverter.columnCommentFallbacks(emitted)
    assert(fb == Seq(
      """COMMENT ON COLUMN "Orders"."select" IS 'keyword col'""",
      """COMMENT ON COLUMN "Orders"."SELECT" IS 'keyword col'""",
      """COMMENT ON COLUMN "orders"."select" IS 'keyword col'""",
      """COMMENT ON COLUMN Orders.Select IS 'keyword col'"""), fb)
    // schema-qualified comments get the same retry family, with the
    // qualifier passed through unchanged (previously: no variants at all)
    val sq = DdlConverter.columnCommentFallbacks(
      """COMMENT ON COLUMN "App"."Orders"."Select" IS 'x'""")
    assert(sq.contains("""COMMENT ON COLUMN "App"."Orders"."select" IS 'x'""") &&
      sq.contains("""COMMENT ON COLUMN "App"."orders"."select" IS 'x'""") &&
      // the schema folds independently of the table (unquoted CREATE
      // SCHEMA + quoted table): both folded-schema spellings retried
      sq.contains("""COMMENT ON COLUMN "app"."Orders"."select" IS 'x'""") &&
      sq.contains("""COMMENT ON COLUMN "app"."orders"."select" IS 'x'""") &&
      sq.contains("""COMMENT ON COLUMN App.Orders.Select IS 'x'"""), sq)
    // unquoted emission gains the quoted variants (and drops itself)
    val unq = DdlConverter.columnCommentFallbacks(
      "COMMENT ON COLUMN t.MyCol IS 'x'")
    assert(unq.contains("""COMMENT ON COLUMN "t"."MyCol" IS 'x'""") &&
      unq.contains("""COMMENT ON COLUMN "t"."mycol" IS 'x'""") &&
      !unq.contains("COMMENT ON COLUMN t.MyCol IS 'x'"), unq)
    // literal text keeps its exact form (escaped quotes included)
    val esc = DdlConverter.columnCommentFallbacks(
      """COMMENT ON COLUMN "t"."c" IS 'it''s ok'""")
    assert(esc.forall(_.endsWith("IS 'it''s ok'")), esc)
    // non-column statements never generate retries
    assert(DdlConverter.columnCommentFallbacks(
      "COMMENT ON TABLE t IS 'x'").isEmpty)
    assert(DdlConverter.columnCommentFallbacks("CREATE TABLE t (a INT)").isEmpty)
  }
}
