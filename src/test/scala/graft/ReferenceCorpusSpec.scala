package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.sqlrewrite.SqlRewriter

/** Gate over the MySQL fixture corpus in `src/test/resources/mysql/`
  * (written for this repo in the shape of the reference's
  * `scripts/mysql/` scripts): every view in `create_view.sql` must
  * rewrite into SQL that Spark's parser accepts, and the function, grant
  * and index scripts must convert. Execution needs the case_* tables,
  * which don't exist here; parseability is the bar, and it already
  * exceeds the reference's own guarantee (it never validated its emitted
  * text against a live parser at all).
  */
class ReferenceCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("ref-corpus-spec", 2)

  override def afterAll(): Unit = spark.stop()

  private def viewStatements(): Seq[String] =
    MySqlFixtures.statements("create_view.sql")
      .filter(_.toUpperCase.contains("CREATE OR REPLACE VIEW"))

  test("reference corpus present and non-trivial") {
    val views = viewStatements()
    assert(views.size >= 10, s"expected >=10 views, got ${views.size}")
  }

  /** The stored-function fixture corpus (`create_function.sql`, 3
    * functions exercising 5.7/8.0 reserved words, mixed joins, COALESCE,
    * ORDER/LIMIT) must convert into
    * structurally sound PL/pgSQL through FunctionDdl — signature, RETURNS,
    * volatility from READS SQL DATA, hoisted DECLAREs, preserved
    * SELECT..INTO, and no MySQL client syntax left behind. */
  test("every reference fixture function converts to PL/pgSQL") {
    import graft.ddl.FunctionDdl
    val text = MySqlFixtures.text("create_function.sql")
    val blocks = "(?is)CREATE\\s+FUNCTION.*?END\\s*//".r
      .findAllIn(text).toSeq
    assert(blocks.size == 3, s"expected the 3 fixture functions, got ${blocks.size}")
    val converted = blocks.map(b => FunctionDdl.convert(b)
      .getOrElse(fail(s"did not convert: ${b.take(60)}...")))
    assert(converted.map(_.name).sorted ==
      Seq("get_combined_data", "get_detailed_data", "get_joined_data"))
    converted.foreach { c =>
      val d = c.ddl
      assert(d.startsWith(s"CREATE OR REPLACE FUNCTION ${c.name}(p_"), c.name)
      assert(d.contains("RETURNS VARCHAR(255)"), c.name)
      // READS SQL DATA → STABLE; no explicit security → INVOKER
      assert(d.contains("STABLE AS $$") && d.contains("SECURITY INVOKER"), c.name)
      // the in-body DECLARE hoists into the PL/pgSQL block
      assert(d.contains("DECLARE\n  result VARCHAR(255);"), c.name)
      assert(d.contains("INTO result"), c.name)
      assert(d.contains("RETURN result;"), c.name)
      assert(d.trim.endsWith("$$ LANGUAGE plpgsql"), c.name)
      // client syntax and MySQL quoting must be gone
      assert(!d.contains("DELIMITER") && !d.contains("`") && !d.contains("//"), c.name)
    }
    // the LIMIT-carrying function keeps its ORDER BY ... LIMIT tail
    val combined = converted.find(_.name == "get_combined_data").get.ddl
    assert(combined.contains("ORDER BY") && combined.contains("LIMIT 1"))
  }

  /** The user/grant fixture corpus (`create_user.sql`): every GRANT
    * statement in it must
    * convert through userDdl into non-empty PG statements, with the
    * ALL PRIVILEGES form expanding to the table+sequence pair the
    * reference emits (sync_user_privilege.go:28-41). */
  test("every reference fixture grant converts through userDdl") {
    import graft.ddl.DdlConverter
    val text = MySqlFixtures.text("create_user.sql")
    val grants = text.linesIterator
      .map(_.trim).filter(_.toUpperCase.startsWith("GRANT ")).toSeq
    assert(grants.size >= 8, s"expected >=8 fixture grants, got ${grants.size}")
    for (user <- Seq("test1", "test2")) {
      val mine = grants.filter(_.contains(s"'$user'"))
      val stmts = DdlConverter.userDdl(user, mine)
      // CREATE USER guard + at least one grant per fixture line
      assert(stmts.head.contains(s"""CREATE USER "$user""""), stmts.head)
      assert(stmts.tail.nonEmpty && stmts.tail.forall(_.startsWith("GRANT ")))
      // ALL PRIVILEGES expands to the tables+sequences pair
      assert(stmts.tail.exists(_.contains("ON ALL TABLES IN SCHEMA public")))
      assert(stmts.tail.exists(_.contains("ON ALL SEQUENCES IN SCHEMA public")))
    }
    // the per-table grant form (mysql.tables_priv shape) also converts
    val perTable = DdlConverter.tablePrivDdl("test1", "case_01_integers",
      "Select,Insert,Update,Delete")
    assert(perTable == Seq(
      """GRANT SELECT ON "case_01_integers" TO "test1"""",
      """GRANT INSERT ON "case_01_integers" TO "test1"""",
      """GRANT UPDATE ON "case_01_integers" TO "test1"""",
      """GRANT DELETE ON "case_01_integers" TO "test1""""))
  }

  test("FunctionDdl characteristics and non-function passthrough") {
    import graft.ddl.{DdlConverter, FunctionDdl}
    val det = FunctionDdl.convert(
      """CREATE FUNCTION add_days(d DATETIME, n INT UNSIGNED) RETURNS DATETIME(3)
        |DETERMINISTIC SQL SECURITY DEFINER COMMENT 'adds days'
        |BEGIN
        |  DECLARE x INT DEFAULT 0;
        |  SET x = n + 1;
        |  RETURN d;
        |END""".stripMargin).get
    assert(det.ddl.contains("add_days(d TIMESTAMP, n INT)"))
    assert(det.ddl.contains("RETURNS TIMESTAMP(3)"))
    assert(det.ddl.contains("IMMUTABLE AS $$"))
    assert(det.ddl.contains("SECURITY DEFINER"))
    assert(det.ddl.contains("x INT DEFAULT 0;"))
    assert(det.ddl.contains("x := n + 1;"))
    assert(det.ddl.contains("COMMENT ON FUNCTION add_days IS 'adds days'"))
    // Derby's reconstructed Java alias is NOT MySQL-shaped: no BEGIN body
    assert(FunctionDdl.convert(
      "CREATE FUNCTION F_MAG(X INTEGER) RETURNS INTEGER LANGUAGE JAVA " +
      "PARAMETER STYLE JAVA EXTERNAL NAME 'java.lang.Math.abs'").isEmpty)
    // host part strips like the reference (PG roles have no host), so the
    // users and privileges stages target the SAME role
    assert(DdlConverter.userDdl("app.user@%", Seq("GRANT SELECT ON *.* TO x"))
      .head.contains("\"app_user\""))
    assert(DdlConverter.tablePrivDdl("test1@localhost", "t", "Select") ==
      Seq("""GRANT SELECT ON "t" TO "test1""""))
    // comma-list DECLARE splits one-per-line; UPDATE ... SET survives the
    // assignment rewrite untouched
    val upd = FunctionDdl.convert(
      """CREATE FUNCTION bump(p INT) RETURNS INT
        |BEGIN
        |  DECLARE a, b INT DEFAULT 0;
        |  SET a = p + 1;
        |  UPDATE t SET col = a WHERE id = p;
        |  RETURN a;
        |END""".stripMargin).get
    assert(upd.ddl.contains("a INT DEFAULT 0;") && upd.ddl.contains("b INT DEFAULT 0;"))
    assert(upd.ddl.contains("a := p + 1;"))
    assert(upd.ddl.contains("UPDATE t SET col = a WHERE id = p;"),
      s"UPDATE SET corrupted:\n${upd.ddl}")
    // multi-word types hoist; inline THEN SET rewrites; cursors hoist as
    // bound PL/pgSQL cursors; escaped comment quotes re-quote as ''
    val adv = FunctionDdl.convert(
      """CREATE FUNCTION f2(p INT) RETURNS DOUBLE
        |COMMENT 'it\'s a helper'
        |BEGIN
        |  DECLARE v DOUBLE PRECISION;
        |  DECLARE c CURSOR FOR SELECT id FROM t WHERE id > p;
        |  IF p > 0 THEN SET v = p * 2; END IF;
        |  RETURN v;
        |END""".stripMargin).get
    assert(adv.ddl.contains("v DOUBLE PRECISION;"), adv.ddl)
    assert(adv.ddl.contains("c CURSOR FOR SELECT id FROM t WHERE id > p;"), adv.ddl)
    assert(adv.ddl.contains("THEN v := p * 2;"), adv.ddl)
    assert(adv.ddl.contains("COMMENT ON FUNCTION f2 IS 'it''s a helper'"), adv.ddl)
  }

  test("FunctionDdl hardening: multiline UPDATE SET, keyword-in-comment, cursor hoisting") {
    import graft.ddl.FunctionDdl
    // a formatted UPDATE puts SET at a line start with no preceding ';' —
    // the one shape the old multiline ^ anchor clobbered into ':='
    val ml = FunctionDdl.convert(
      """CREATE FUNCTION deduct(v_id INT, amt INT) RETURNS INT
        |BEGIN
        |  UPDATE accounts
        |    SET balance = balance - amt
        |    WHERE id = v_id;
        |  RETURN amt;
        |END""".stripMargin).get
    assert(ml.ddl.contains("SET balance = balance - amt"),
      s"multiline UPDATE SET corrupted:\n${ml.ddl}")
    assert(!ml.ddl.contains(":="), ml.ddl)
    // 'begin'/'not deterministic' inside the COMMENT characteristic must
    // not anchor the body or flip volatility
    val cm = FunctionDdl.convert(
      """CREATE FUNCTION f3() RETURNS INT
        |COMMENT 'begin balance calc, not deterministic text' DETERMINISTIC
        |BEGIN
        |  RETURN 1;
        |END""".stripMargin).get
    assert(cm.ddl.contains("IMMUTABLE AS $$"), cm.ddl)
    assert(cm.ddl.contains("RETURN 1;"), cm.ddl)
    assert(cm.ddl.contains(
      "COMMENT ON FUNCTION f3 IS 'begin balance calc, not deterministic text'"),
      cm.ddl)
    // hoisted cursor queries ride the SAME MySQL→PG rewrite as the body,
    // and declare AFTER the plain variables they may reference
    val cu = FunctionDdl.convert(
      """CREATE FUNCTION f4(p INT) RETURNS INT
        |BEGIN
        |  DECLARE c CURSOR FOR SELECT IFNULL(`name`, 'x') FROM t WHERE id = v_id;
        |  DECLARE v_id INT DEFAULT 0;
        |  RETURN p;
        |END""".stripMargin).get
    assert(cu.ddl.contains("COALESCE(\"name\", 'x')"),
      s"cursor query not rewritten:\n${cu.ddl}")
    val declIdx = cu.ddl.indexOf("v_id INT DEFAULT 0;")
    val curIdx = cu.ddl.indexOf("c CURSOR FOR")
    assert(declIdx >= 0 && curIdx >= 0 && declIdx < curIdx,
      s"cursor declared before the variable it references:\n${cu.ddl}")
    // an apostrophe inside a backtick parameter opens no literal that
    // would hide RETURNS and BEGIN
    val ap = FunctionDdl.convert(
      "CREATE FUNCTION f(`it's` INT) RETURNS INT DETERMINISTIC BEGIN RETURN `it's` + 1; END")
      .getOrElse(fail("backtick parameter with an apostrophe did not convert"))
    assert(ap.ddl.contains("f(\"it's\" INT)") && ap.ddl.contains("RETURN \"it's\" + 1;"),
      ap.ddl)
    // a MySQL # comment in the body becomes a PL/pgSQL -- comment
    val hc = FunctionDdl.convert(
      """CREATE FUNCTION f5(p INT) RETURNS INT
        |BEGIN
        |  # bump it
        |  RETURN p + 1;
        |END""".stripMargin).get
    assert(hc.ddl.contains("-- bump it") && !hc.ddl.contains("#"), hc.ddl)
    // a cursor query that ends in a # comment keeps its terminator out of
    // the comment
    val hq = FunctionDdl.convert(
      """CREATE FUNCTION f6(p INT) RETURNS INT
        |BEGIN
        |  DECLARE c CURSOR FOR SELECT a FROM t # note
        |  ;
        |  RETURN p;
        |END""".stripMargin).get
    assert(hq.ddl.contains("c CURSOR FOR SELECT a FROM t  -- note\n;"), hq.ddl)
  }

  test("FunctionDdl procedural subset: loop control, user vars, ROW_COUNT") {
    import graft.ddl.FunctionDdl
    // LEAVE/ITERATE KEEP their MySQL label (the reference drops it,
    // sync_functions.go:64-65, silently retargeting nested control flow to
    // the innermost loop — graft declares <<lbl>> so the labeled form is
    // valid); REPEAT..UNTIL becomes a post-test LOOP..EXIT WHEN (:66-67, :532-535)
    // with the UNTIL tail rewritten BEFORE the bare REPEAT keyword so the
    // 'END REPEAT' terminator survives long enough to match
    val lp = FunctionDdl.convert(
      """CREATE FUNCTION countdown(n INT) RETURNS INT
        |BEGIN
        |  DECLARE i INT DEFAULT 0;
        |  lbl: LOOP
        |    SET i = i + 1;
        |    IF i >= n THEN LEAVE lbl; END IF;
        |    IF i = 2 THEN ITERATE lbl; END IF;
        |  END LOOP;
        |  REPEAT
        |    SET i = i - 1;
        |  UNTIL i <= 0 END REPEAT;
        |  RETURN i;
        |END""".stripMargin).get
    assert(lp.ddl.contains("EXIT lbl;") &&
      !lp.ddl.toUpperCase.contains("LEAVE"), lp.ddl)
    assert(lp.ddl.contains("CONTINUE lbl;") &&
      !lp.ddl.toUpperCase.contains("ITERATE"), lp.ddl)
    assert(lp.ddl.contains("<<lbl>> LOOP"), lp.ddl)
    assert(lp.ddl.contains("EXIT WHEN i <= 0; END LOOP;"), lp.ddl)
    assert(!lp.ddl.toUpperCase.contains("REPEAT"), lp.ddl)
    // a string literal spelling the keywords must NOT be rewritten
    val lit = FunctionDdl.convert(
      """CREATE FUNCTION f5() RETURNS VARCHAR(64)
        |BEGIN
        |  RETURN 'please REPEAT and LEAVE now;';
        |END""".stripMargin).get
    assert(lit.ddl.contains("'please REPEAT and LEAVE now;'"), lit.ddl)
    // @user_vars hoist into v_ locals with the reference's name-based
    // type inference (:1180-1224): count-ish names -> numeric, else text
    val uv = FunctionDdl.convert(
      """CREATE FUNCTION tally(p INT) RETURNS INT
        |BEGIN
        |  SET @total = @total + p;
        |  SET @label_text = 'x';
        |  RETURN @total;
        |END""".stripMargin).get
    assert(uv.ddl.contains("v_total numeric;"), uv.ddl)
    assert(uv.ddl.contains("v_label_text text;"), uv.ddl)
    assert(uv.ddl.contains("v_total := v_total + p"), uv.ddl)
    assert(!uv.ddl.contains("@"), uv.ddl)
    // x := ROW_COUNT() (via SET or direct) -> GET DIAGNOSTICS (:549-552),
    // catching the @var spelling after its v_ rewrite too
    val rc = FunctionDdl.convert(
      """CREATE FUNCTION touched() RETURNS INT
        |BEGIN
        |  DECLARE v_count INT DEFAULT 0;
        |  UPDATE t SET a = 1;
        |  SET v_count = ROW_COUNT();
        |  SET @rows_id = ROW_COUNT();
        |  RETURN v_count;
        |END""".stripMargin).get
    assert(rc.ddl.contains("GET DIAGNOSTICS v_count = ROW_COUNT;"), rc.ddl)
    assert(rc.ddl.contains("GET DIAGNOSTICS v_rows_id = ROW_COUNT;"), rc.ddl)
    assert(rc.ddl.contains("v_rows_id numeric;"), rc.ddl)
    assert(!rc.ddl.contains("ROW_COUNT()"), rc.ddl)
  }

  test("FunctionDdl procedural edges: REPEAT builtin, labels, @@vars, ROW_COUNT subexpr") {
    import graft.ddl.FunctionDdl
    // the string builtin REPEAT(str, n) is valid PostgreSQL and must not
    // become LOOP(str, n); only the loop-opener keyword rewrites
    val rb = FunctionDdl.convert(
      """CREATE FUNCTION pad(n INT) RETURNS VARCHAR(64)
        |BEGIN
        |  RETURN REPEAT('-', n);
        |END""".stripMargin).get
    assert(rb.ddl.contains("REPEAT('-', n)"), rb.ddl)
    assert(!rb.ddl.contains("LOOP('-'"), rb.ddl)
    // MySQL loop labels become PL/pgSQL <<label>> declarations, and the
    // matching END LOOP label survives (now valid against <<label>>)
    val lb = FunctionDdl.convert(
      """CREATE FUNCTION lbl(n INT) RETURNS INT
        |BEGIN
        |  DECLARE i INT DEFAULT 0;
        |  outer_l: LOOP
        |    SET i = i + 1;
        |    IF i >= n THEN LEAVE outer_l; END IF;
        |  END LOOP outer_l;
        |  RETURN i;
        |END""".stripMargin).get
    assert(lb.ddl.contains("<<outer_l>> LOOP"), lb.ddl)
    assert(lb.ddl.contains("END LOOP outer_l;"), lb.ddl)
    assert(!lb.ddl.contains("outer_l: LOOP"), lb.ddl)
    // @@system_vars are not user variables: no v_ rename, no bogus decl
    val sv = FunctionDdl.convert(
      """CREATE FUNCTION mode_of() RETURNS VARCHAR(64)
        |BEGIN
        |  SET @my_count = 1;
        |  RETURN @@sql_mode;
        |END""".stripMargin).get
    assert(sv.ddl.contains("@@sql_mode"), sv.ddl)
    assert(!sv.ddl.contains("v_sql_mode") && !sv.ddl.contains("@v_"), sv.ddl)
    assert(sv.ddl.contains("v_my_count numeric;"), sv.ddl)
    // ROW_COUNT() as a subexpression stays arithmetic — GET DIAGNOSTICS
    // fires only on whole-statement assignments
    val sub = FunctionDdl.convert(
      """CREATE FUNCTION adj() RETURNS INT
        |BEGIN
        |  DECLARE v_n INT DEFAULT 0;
        |  UPDATE t SET a = 1;
        |  SET v_n = ROW_COUNT() + 1;
        |  RETURN v_n;
        |END""".stripMargin).get
    assert(sub.ddl.contains("v_n := ROW_COUNT() + 1"), sub.ddl)
    assert(!sub.ddl.contains("GET DIAGNOSTICS"), sub.ddl)
  }

  test("FunctionDdl cursor FETCH/handler protocol") {
    import graft.ddl.FunctionDdl
    // the canonical MySQL cursor loop: CONTINUE HANDLER FOR NOT FOUND sets
    // a flag, the loop FETCHes and LEAVEs on the flag. PG has no handlers
    // (sync_functions.go:95-96 drops them) — the reference instead appends
    // `IF NOT FOUND THEN done := true; END IF;` to every FETCH
    // (:1062-1072). Without that tail the converted loop never terminates.
    val cl = FunctionDdl.convert(
      """CREATE FUNCTION total_of() RETURNS INT
        |BEGIN
        |  DECLARE done INT DEFAULT FALSE;
        |  DECLARE v INT;
        |  DECLARE acc INT DEFAULT 0;
        |  DECLARE cur CURSOR FOR SELECT a FROM t;
        |  DECLARE CONTINUE HANDLER FOR NOT FOUND SET done = 1;
        |  OPEN cur;
        |  read_loop: LOOP
        |    FETCH cur INTO v;
        |    IF done THEN LEAVE read_loop; END IF;
        |    SET acc = acc + v;
        |  END LOOP;
        |  CLOSE cur;
        |  RETURN acc;
        |END""".stripMargin).get
    // the flag IS set on exhaustion — the loop terminates
    assert(cl.ddl.contains(
      "FETCH cur INTO v; IF NOT FOUND THEN done := true; END IF;"), cl.ddl)
    // the handler itself is gone, but did NOT silently vanish: its flag
    // survives, coerced to a PG boolean (MySQL spells it INT DEFAULT FALSE)
    assert(!cl.ddl.toUpperCase.contains("HANDLER"), cl.ddl)
    assert(cl.ddl.contains("done boolean DEFAULT false;"), cl.ddl)
    assert(!cl.ddl.contains("done SMALLINT"), cl.ddl)
    assert(cl.ddl.contains("<<read_loop>> LOOP"), cl.ddl)
    assert(cl.ddl.contains("EXIT read_loop;"), cl.ddl)
    assert(cl.ddl.contains("cur CURSOR FOR SELECT a FROM t;"), cl.ddl)
    // the handler's OWN variable name is preferred over the reference's
    // hardcoded `done`; integer writes/tests of the flag are re-typed
    val fn = FunctionDdl.convert(
      """CREATE FUNCTION scan_all() RETURNS INT
        |BEGIN
        |  DECLARE finished INT DEFAULT 0;
        |  DECLARE v INT;
        |  DECLARE cur CURSOR FOR SELECT a FROM t;
        |  DECLARE CONTINUE HANDLER FOR NOT FOUND SET finished = 1;
        |  OPEN cur;
        |  SET finished = 0;
        |  lp: LOOP
        |    FETCH cur INTO v;
        |    IF finished = 1 THEN LEAVE lp; END IF;
        |  END LOOP;
        |  CLOSE cur;
        |  RETURN v;
        |END""".stripMargin).get
    assert(fn.ddl.contains("IF NOT FOUND THEN finished := true;"), fn.ddl)
    assert(fn.ddl.contains("finished boolean DEFAULT false;"), fn.ddl)
    assert(fn.ddl.contains("finished := false;"), fn.ddl) // SET finished=0
    assert(fn.ddl.contains("IF finished = true THEN"), fn.ddl)
    assert(!fn.ddl.contains("done"), fn.ddl)
    // no handler at all: the reference unconditionally wires `done` —
    // match it, and declare the fallback flag so the body compiles
    val nf = FunctionDdl.convert(
      """CREATE FUNCTION first_of() RETURNS INT
        |BEGIN
        |  DECLARE v INT;
        |  DECLARE cur CURSOR FOR SELECT a FROM t;
        |  OPEN cur;
        |  FETCH cur INTO v;
        |  CLOSE cur;
        |  RETURN v;
        |END""".stripMargin).get
    assert(nf.ddl.contains(
      "FETCH cur INTO v; IF NOT FOUND THEN done := true; END IF;"), nf.ddl)
    assert(nf.ddl.contains("done boolean DEFAULT false;"), nf.ddl)
    // an @user_var flag rides the v_ rename end-to-end
    val uv = FunctionDdl.convert(
      """CREATE FUNCTION drain() RETURNS INT
        |BEGIN
        |  DECLARE v INT;
        |  DECLARE cur CURSOR FOR SELECT a FROM t;
        |  DECLARE CONTINUE HANDLER FOR NOT FOUND SET @eof = 1;
        |  OPEN cur;
        |  lp: LOOP
        |    FETCH cur INTO v;
        |    IF @eof THEN LEAVE lp; END IF;
        |  END LOOP;
        |  CLOSE cur;
        |  RETURN v;
        |END""".stripMargin).get
    assert(uv.ddl.contains("IF NOT FOUND THEN v_eof := true;"), uv.ddl)
    assert(uv.ddl.contains("v_eof boolean DEFAULT false;"), uv.ddl)
    assert(!uv.ddl.contains("@"), uv.ddl)
    // the alternate FETCH FROM spelling gets the same tail
    val ff = FunctionDdl.convert(
      """CREATE FUNCTION alt_of() RETURNS INT
        |BEGIN
        |  DECLARE v INT;
        |  DECLARE cur CURSOR FOR SELECT a FROM t;
        |  OPEN cur;
        |  FETCH FROM cur INTO v;
        |  CLOSE cur;
        |  RETURN v;
        |END""".stripMargin).get
    assert(ff.ddl.contains(
      "FETCH cur INTO v; IF NOT FOUND THEN done := true; END IF;"), ff.ddl)
    // a string literal spelling FETCH is DATA: no rewrite, no phantom
    // flag declaration
    val lit = FunctionDdl.convert(
      """CREATE FUNCTION doc_of() RETURNS VARCHAR(64)
        |BEGIN
        |  RETURN 'usage: FETCH cur INTO v; then close';
        |END""".stripMargin).get
    assert(lit.ddl.contains("'usage: FETCH cur INTO v; then close'"), lit.ddl)
    assert(!lit.ddl.contains("NOT FOUND") && !lit.ddl.contains("done"), lit.ddl)
    // a COLUMN named like the flag inside embedded DML stays integer SQL;
    // only the procedural test re-types
    val dml = FunctionDdl.convert(
      """CREATE FUNCTION mark_done(p INT) RETURNS INT
        |BEGIN
        |  DECLARE done INT DEFAULT 0;
        |  DECLARE v INT;
        |  DECLARE cur CURSOR FOR SELECT a FROM t;
        |  DECLARE CONTINUE HANDLER FOR NOT FOUND SET done = 1;
        |  OPEN cur;
        |  lp: LOOP
        |    FETCH cur INTO v;
        |    IF done = 1 THEN LEAVE lp; END IF;
        |    UPDATE jobs SET done = 1 WHERE id = p;
        |  END LOOP;
        |  CLOSE cur;
        |  RETURN v;
        |END""".stripMargin).get
    assert(dml.ddl.contains("IF done = true THEN"), dml.ddl)
    assert(dml.ddl.contains("UPDATE jobs SET done = 1 WHERE id = p;"), dml.ddl)
  }

  test("DdlConverter hardening: grant word boundaries, literal-safe clauses, PG requoting") {
    import graft.ddl.DdlConverter
    // an object name containing a privilege word must not grant it — a
    // substring scan escalated read-only accounts to INSERT
    val ro = DdlConverter.userDdl("reader",
      Seq("GRANT SELECT ON `db`.`insert_log` TO 'reader'@'%'"))
    assert(ro.exists(_.startsWith("GRANT SELECT ON ALL TABLES")), ro)
    assert(!ro.exists(_.contains("INSERT")), s"privilege escalation: $ro")
    // keywords inside a COMMENT literal must not fabricate clauses or eat
    // the literal tail
    val spec = DdlConverter.parse(
      """CREATE TABLE t (
        |  status int COMMENT 'falls back to DEFAULT 0 -- see room # 12',
        |  price decimal(10,2),
        |  CONSTRAINT `t_chk_1` CHECK ((`price` > 0))
        |)""".stripMargin)
    val st = spec.columns.find(_.name == "status").get
    assert(st.default.isEmpty, s"comment text fabricated a default: $st")
    assert(st.comment.contains("falls back to DEFAULT 0 -- see room # 12"), st)
    // CHECK bodies requote backticks for the PG target
    val ddl = DdlConverter.toPostgresDdl(spec)
    assert(ddl.exists(_.contains("CHECK ((\"price\" > 0))")),
      s"backticks survived into PG CHECK: $ddl")
    // an apostrophe inside an EOL comment must not swallow following DDL
    // (the masker knows nothing of comments — a joint-state scan does)
    val apos = DdlConverter.parse(
      """CREATE TABLE t2 (
        |  a int, -- it's the key
        |  b int
        |)""".stripMargin)
    assert(apos.columns.map(_.name) == Seq("a", "b"), apos.columns)
    // lowercase folding reaches backtick-quoted identifiers in view
    // bodies, and literal text containing IFNULL( is never rewritten
    val vd = DdlConverter.viewDdl("V1",
      "SELECT `MyCol`, 'use IFNULL(a,b) here' AS hint FROM `MyTable`",
      lowercase = true)
    val create = vd.last
    assert(create.contains("\"mycol\"") && create.contains("\"mytable\""), create)
    assert(create.contains("'use IFNULL(a,b) here'"),
      s"literal rewritten: $create")
  }

  test("every reference view rewrites to parseable Spark SQL") {
    val parser = spark.sessionState.sqlParser
    val failures = viewStatements().flatMap { stmt =>
      // convert CREATE OR REPLACE VIEW x AS <body> → parse the full
      // statement (Spark supports CREATE OR REPLACE [TEMPORARY] VIEW)
      val rewritten = SqlRewriter.rewrite(stmt)
      try { parser.parsePlan(rewritten); None }
      catch { case e: Exception =>
        val name = "(?i)VIEW\\s+(\\S+)".r.findFirstMatchIn(stmt).map(_.group(1)).getOrElse("?")
        Some(s"$name: ${e.getMessage.linesIterator.take(2).mkString(" | ")}")
      }
    }
    assert(failures.isEmpty, "unparseable rewritten views:\n" + failures.mkString("\n"))
  }
}
