package graft.ddl

import graft.sqlrewrite.{MySqlLexer, SqlRewriter}

/** MySQL stored-function DDL → PostgreSQL PL/pgSQL — the reference's
  * `ConvertFunctionDDL` (sync_functions.go:156-1426) re-expressed
  * structurally:
  *
  *  - signature: paren-matched parameter list with the reference's type
  *    cleanups — DATETIME→TIMESTAMP, TINYINT→SMALLINT, UNSIGNED/ZEROFILL
  *    and charset/collate noise dropped, backticks→double quotes
  *    (sync_functions.go:219-260);
  *  - RETURNS type with the same cleanups, DATETIME precision carried
  *    (:263-335);
  *  - characteristics → volatility/security/comment (:337-408):
  *    DETERMINISTIC→IMMUTABLE, NOT DETERMINISTIC→VOLATILE, else NO
  *    SQL→IMMUTABLE / READS SQL DATA→STABLE / MODIFIES SQL DATA→VOLATILE;
  *    SQL SECURITY DEFINER|INVOKER passes through; COMMENT 'txt' becomes a
  *    trailing COMMENT ON FUNCTION;
  *  - body between the outermost BEGIN..END: MySQL in-body `DECLARE`s
  *    hoist into the PL/pgSQL DECLARE block (handlers are dropped — PG has
  *    no direct equivalent, :96-99 — EXCEPT the NOT FOUND cursor protocol:
  *    the handler's flag variable survives as a boolean and every `FETCH c
  *    INTO v;` gains `IF NOT FOUND THEN flag := true; END IF;`,
  *    :1062-1072), `SET x =` becomes `x :=`;
  *  - procedural loop control (:64-67, :532-535): `LEAVE lbl`→`EXIT lbl`,
  *    `ITERATE lbl`→`CONTINUE lbl` (labels kept — `lbl: LOOP` declares
  *    `<<lbl>>`), `REPEAT … UNTIL c END REPEAT`→
  *    `LOOP … EXIT WHEN c; END LOOP` (UNTIL rewrites before the bare
  *    REPEAT pass — see body comment); `@user_var`s hoist into typed
  *    `v_` locals with the reference's name-based inference (:1180-1224);
  *    `x := ROW_COUNT()`→`GET DIAGNOSTICS x = ROW_COUNT` (:131,
  *    :549-552);
  *  - expression-level builtins (IFNULL, CONCAT, DATE_FORMAT, …) ride
  *    [[graft.sqlrewrite.SqlRewriter.rewrite]] — ONE structural rewriter
  *    shared with the view converter instead of the reference's ~60
  *    ordered regex passes over the same surface;
  *  - wrapped as `CREATE OR REPLACE FUNCTION <lower(name)>(params)
  *    RETURNS type <security> <volatility> AS $$ ... $$ LANGUAGE plpgsql`
  *    (:1285-1320).
  *
  * Driver-side cold path (pipeline `functions` stage); returns None for
  * DDL that is not a MySQL-shaped `CREATE FUNCTION ... BEGIN ... END`
  * (e.g. Derby's Java-alias reconstructions pass through untouched).
  */
object FunctionDdl {

  final case class Converted(name: String, ddl: String)

  private val NameRe =
    "(?is)CREATE\\s+(?:DEFINER\\s*=\\s*\\S+\\s+)?FUNCTION\\s+`?([\\w$]+)`?".r

  private def cleanTypes(s: String): String = DdlConverter.requoteIdents(s)
    .replaceAll("(?i)\\bDATETIME\\b", "TIMESTAMP")
    .replaceAll("(?i)\\bTINYINT\\b", "SMALLINT")
    .replaceAll("(?i)\\s+UNSIGNED\\b", "")
    .replaceAll("(?i)\\s+ZEROFILL\\b", "")
    .replaceAll("(?i)\\s+CHARACTER\\s+SET\\s+\\w+", "")
    .replaceAll("(?i)\\s+CHARSET\\s+\\w+", "")
    .replaceAll("(?i)\\s+COLLATE\\s+\\w+", "")

  /** First whole-word occurrence of `word` in `hay` at or after `from`;
    * -1 if none. Guards against BEGIN matching inside an identifier. */
  private def indexOfWord(hay: String, word: String, from: Int): Int = {
    var i = hay.indexOf(word, from)
    while (i >= 0) {
      val before = i == 0 || !Character.isLetterOrDigit(hay.charAt(i - 1))
      val after = i + word.length >= hay.length ||
        !Character.isLetterOrDigit(hay.charAt(i + word.length))
      if (before && after) return i
      i = hay.indexOf(word, i + 1)
    }
    -1
  }

  def convert(mysqlDdl: String): Option[Converted] = {
    // DELIMITER wrappers and the custom terminator are client syntax, not
    // function text
    val ddl = mysqlDdl
      .replaceAll("(?im)^\\s*DELIMITER\\s+\\S+\\s*$", "")
      .replaceAll("(?m)//\\s*$", "")
      .trim
    // keyword anchors are found on a literal-blanked, same-length mask:
    // 'begin'/'returns' inside a COMMENT string must not anchor the body
    val upper = MySqlLexer.blank(ddl).toUpperCase
    for {
      m <- NameRe.findFirstMatchIn(ddl)
      name = m.group(1)
      open = ddl.indexOf('(', m.end - 1) if open >= 0
      close = SqlRewriter.matchParen(ddl, open) if close > open
      returnsIdx = indexOfWord(upper, "RETURNS", close) if returnsIdx >= 0
      beginIdx = indexOfWord(upper, "BEGIN", returnsIdx) if beginIdx >= 0
    } yield {
      val params = cleanTypes(ddl.substring(open + 1, close)).trim

      // RETURNS <type> runs to the first top-level space after the type
      // (paren depth honored for VARCHAR(255), DECIMAL(10,2), …)
      val afterReturns = ddl.substring(returnsIdx + 7, beginIdx).trim
      var depth = 0
      var cut = afterReturns.length
      var i = 0
      while (i < afterReturns.length && cut == afterReturns.length) {
        afterReturns.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case c if Character.isWhitespace(c) && depth == 0 => cut = i
          case _ =>
        }
        i += 1
      }
      val returnType = {
        val t = cleanTypes(afterReturns.substring(0, cut)).trim
        if (t.isEmpty) "VOID" else t
      }

      // characteristics live between the return type and BEGIN; the
      // keyword checks read the literal-blanked mask so a COMMENT
      // containing 'not deterministic' cannot flip volatility — only the
      // COMMENT extraction below needs the real text
      val chars = afterReturns.substring(math.min(cut, afterReturns.length))
      val uchars = MySqlLexer.blank(chars).toUpperCase
      val volatility =
        if (uchars.contains("NOT DETERMINISTIC")) "VOLATILE"
        else if (uchars.contains("DETERMINISTIC")) "IMMUTABLE"
        else if (uchars.contains("NO SQL")) "IMMUTABLE"
        else if (uchars.contains("READS SQL DATA")) "STABLE"
        else "VOLATILE"
      val security =
        if (uchars.contains("SQL SECURITY DEFINER")) "SECURITY DEFINER"
        else "SECURITY INVOKER"
      // re-quote for PG: MySQL's \' escape becomes the SQL-standard '' —
      // under standard_conforming_strings a carried backslash would
      // terminate the literal early and break the statement
      val comment = "(?is)COMMENT\\s+'((?:[^'\\\\]|\\\\.)*)'".r
        .findFirstMatchIn(chars)
        .map(_.group(1).replace("\\'", "'").replace("'", "''"))

      // body: after the outermost BEGIN, trailing END (+ terminator) cut
      var body = ddl.substring(beginIdx + 5)
        .replaceAll("(?is)\\s*END\\s*(?:\\$\\$|;)*\\s*$", "")

      // NOT FOUND handler protocol (sync_functions.go:95-96, :1062-1072):
      // MySQL cursor loops rely on `DECLARE CONTINUE HANDLER FOR NOT FOUND
      // SET done = 1` + `IF done THEN LEAVE`; PL/pgSQL has no handlers, so
      // the handler's flag variable is captured BEFORE handlers are
      // dropped and every FETCH gains an explicit `IF NOT FOUND THEN flag
      // := true; END IF;` tail — the reference hardcodes `done` (:1069);
      // the declared handler variable is preferred, `done` is the
      // no-handler fallback. Without this, the converted loop's flag is
      // never set: an infinite loop at runtime. The flag's declaration is
      // coerced to boolean and its integer writes/tests re-typed below so
      // `IF done THEN` stays boolean-coherent in PL/pgSQL.
      val notFoundRe = ("(?i)DECLARE\\s+(?:CONTINUE|EXIT)\\s+HANDLER\\s+FOR" +
        "\\s+NOT\\s+FOUND\\s+SET\\s+(@?\\w+)\\s*=\\s*[^;]+;").r
      // these passes run on a MASKED copy: a string literal spelling
      // 'FETCH c INTO v;' or a handler declaration must not be rewritten
      // (nor count as cursor evidence for the fallback flag declaration)
      val (mbH, litsH) = SqlRewriter.maskStringLiterals(body)
      val handlerFlag = notFoundRe.findFirstMatchIn(mbH).map(_.group(1))
      // other handlers have no PL/pgSQL equivalent — dropped like the
      // reference (reHandler); cursors hoist as PL/pgSQL BOUND cursors
      // (`name CURSOR FOR query;` is valid in a PG DECLARE block); plain
      // DECLAREs hoist into the PG block
      var mbF = mbH.replaceAll(
        "(?i)DECLARE\\s+(?:CONTINUE|EXIT)\\s+HANDLER\\s+FOR\\s+[^;]+;", "")
      // both MySQL spellings: FETCH cur / FETCH [NEXT] FROM cur
      val fetchRe = ("(?i)\\bFETCH\\s+(?:(?:NEXT\\s+)?FROM\\s+)?(\\w+)" +
        "\\s+INTO\\s+([^;]+);").r
      val hasFetch = fetchRe.findFirstIn(mbF).isDefined
      val flagVar = handlerFlag.getOrElse("done")
      if (hasFetch) {
        mbF = fetchRe.replaceAllIn(mbF, m => scala.util.matching.Regex
          .quoteReplacement(s"FETCH ${m.group(1)} INTO ${m.group(2).trim}; " +
            s"IF NOT FOUND THEN $flagVar := true; END IF;"))
      }
      body = SqlRewriter.unmask(mbF, litsH)
      val cursorRe = "(?i)DECLARE\\s+(\\w+)\\s+CURSOR\\s+FOR\\s+([^;]+);".r
      // the hoisted cursor query is MySQL text excised BEFORE the body
      // rides SqlRewriter below — it must go through the same rewrite
      // (IFNULL, backticks, …) or OPEN fails on the target
      val cursorDecls = cursorRe.findAllMatchIn(body)
        .map(c => s"${c.group(1)} CURSOR FOR " +
          s"${DdlConverter.pgScrub(SqlRewriter.rewrite(c.group(2).trim))};").toSeq
      body = cursorRe.replaceAllIn(body, "")
      // MySQL allows `DECLARE a, b INT`; PL/pgSQL wants one name per line.
      // The type may be multi-word (DOUBLE PRECISION, INT UNSIGNED,
      // VARCHAR(10) CHARACTER SET utf8) — capture through to the
      // DEFAULT/semicolon and clean modifiers off.
      val declRe = ("(?i)DECLARE\\s+(\\w+(?:\\s*,\\s*\\w+)*)\\s+" +
        "((?!CONTINUE\\b|EXIT\\b)[A-Za-z][A-Za-z0-9 ]*" +
        "(?:\\s*\\(\\s*\\d+(?:\\s*,\\s*\\d+)?\\s*\\))?[A-Za-z0-9 ]*?)" +
        "(?:\\s+DEFAULT\\s+([^;]+))?;").r
      // plain variables FIRST: PL/pgSQL declarations are processed in
      // order, and a bound cursor's query may reference them
      val decls = declRe.findAllMatchIn(body).flatMap { d =>
        val default = Option(d.group(3)).map(v => s" DEFAULT ${v.trim}").getOrElse("")
        d.group(1).split(",").map(_.trim).map(n =>
          s"$n ${cleanTypes(d.group(2)).trim}$default;")
      }.toSeq ++ cursorDecls
      body = declRe.replaceAllIn(body, "")

      // SET x = v → x := v at statement starts AND after flow-control
      // keywords (THEN/ELSE/LOOP/DO) — anchored so column assignments
      // inside UPDATE ... SET col = v are left alone. The statement-start
      // anchor is \A (body start), NOT multiline ^: every later statement
      // begins after a `;` (\s* spans newlines), while a formatted
      // `UPDATE t\n  SET col = v` puts SET at a line start with no
      // preceding `;` — exactly the case ^ used to clobber. MySQL
      // multi-assign (`SET a = 1, b = 2`) keeps only its first assignment
      // rewritten; split such statements upstream if they appear.
      // the assignment target may be a session variable (`SET @x = …`) —
      // the @ survives here and the user-var pass below renames it to v_x
      body = body.replaceAll(
        "(?i)(\\A|;|\\bTHEN\\b|\\bELSE\\b|\\bLOOP\\b|\\bDO\\b)(\\s*)SET\\s+(@?\\w+)\\s*=",
        "$1$2$3 :=")

      // procedural loop-control + session variables (sync_functions.go
      // :64-67, :532-535, :47, :1180-1224, :131, :549-552), applied on a
      // literal-masked body so quoted text is never rewritten:
      //  - LEAVE lbl; → EXIT lbl; / ITERATE lbl; → CONTINUE lbl; — the
      //    label is KEPT (unlike the reference, which drops it and silently
      //    retargets nested control flow to the innermost loop): `lbl:
      //    LOOP` becomes a declared <<lbl>> below, so the labeled form is
      //    either correct or a loud PG compile error for untranslated
      //    block labels, never silent wrong control flow
      //  - REPEAT body UNTIL cond END REPEAT; → LOOP body EXIT WHEN cond;
      //    END LOOP; — the UNTIL tail rewrites FIRST so the bare REPEAT
      //    pass cannot eat the `END REPEAT` terminator (the reference
      //    applies these in randomized map order, which breaks whenever
      //    REPEAT wins; post-body EXIT WHEN preserves MySQL's
      //    test-after-body semantics)
      //  - @user_vars hoist into declared `v_` locals with the reference's
      //    name-based type inference (count/sum/total/amount/price/id/num/
      //    i/j → numeric, else text)
      //  - x := ROW_COUNT() → GET DIAGNOSTICS x = ROW_COUNT (after the
      //    SET→:= and @var passes, so both spellings land here)
      val (maskedBody, bodyLits) = SqlRewriter.maskStringLiterals(body)
      var mb = maskedBody
        .replaceAll("(?i)\\bLEAVE\\s+(\\w+)\\s*;", "EXIT $1;")
        .replaceAll("(?i)\\bITERATE\\s+(\\w+)\\s*;", "CONTINUE $1;")
        // the optional trailing label (END REPEAT lbl;) must die here —
        // the rewritten END LOOP carries no matching <<label>>
        .replaceAll("(?is)\\bUNTIL\\s+(.+?)\\s*END\\s+REPEAT\\s*\\w*\\s*;",
          "EXIT WHEN $1; END LOOP;")
        // loop-opener REPEAT only: the string builtin REPEAT(str, n) is
        // valid PostgreSQL and must survive — it is always followed by (
        .replaceAll("(?i)\\bREPEAT\\b(?!\\s*\\()", "LOOP")
        // WHILE c DO … END WHILE → WHILE c LOOP … END LOOP (the reference
        // has NO while pass — its WHILE functions reach PG unconverted and
        // fail to compile); non-greedy to the nearest DO so nested whiles
        // each claim their own
        .replaceAll("(?is)\\bWHILE\\b(.+?)\\bDO\\b", "WHILE$1LOOP")
        .replaceAll("(?i)\\bEND\\s+WHILE\\b", "END LOOP")
        // MySQL loop labels (`lbl: LOOP`) are not PL/pgSQL (`<<lbl>>`);
        // translate the prefix form and its matching END LOOP lbl; —
        // LEAVE/ITERATE already dropped their label references above
        .replaceAll("(?i)\\b(\\w+)\\s*:\\s*(?=(?:LOOP|WHILE)\\b)", "<<$1>> ")
        .replaceAll("(?i)\\bEND\\s+LOOP\\s+(\\w+)\\s*;", "END LOOP $1;")
      // @@system_vars are not user variables — the rename would leave a
      // dangling `@v_name`; they pass through for the target to reject
      // or a later mapping to handle explicitly
      val userVars = "(?<!@)@(?!@)(\\w+)".r.findAllMatchIn(mb).map(_.group(1))
        .toSeq.distinct
      val userDecls = userVars.flatMap { v =>
        val pgVar = s"v_$v"
        val lower = v.toLowerCase
        val numeric = Seq("count", "sum", "total", "amount", "price", "id",
          "num").exists(lower.contains) || lower == "i" || lower == "j"
        val tpe = if (numeric) "numeric" else "text"
        if (decls.exists(_.startsWith(pgVar + " "))) None
        else Some(s"$pgVar $tpe;")
      }
      mb = mb.replaceAll("(?<!@)@(?!@)(\\w+)", "v_$1")
        // whole-statement assignments only: `v := ROW_COUNT() + 1` is an
        // expression use and must stay arithmetic — GET DIAGNOSTICS with
        // a dangling `+ 1` tail would not parse
        .replaceAll("(?i)\\b(\\w+)\\s*:=\\s*ROW_COUNT\\(\\)\\s*(?=;|\\z)",
          "GET DIAGNOSTICS $1 = ROW_COUNT")
      // the NOT FOUND flag is boolean in PL/pgSQL (the FETCH tail assigns
      // `true`); MySQL bodies write/test it as an INT — re-type those uses
      // so `done := 1` / `IF done = 1` stay coherent with the coerced
      // boolean declaration below. Applied post-rename so an @flag's v_
      // spelling is covered; masked body, so literals are safe. The `:=`
      // forms are procedural by construction (the SET pass only rewrites
      // statement-position assignments), but the bare `= 1` comparison is
      // scoped to procedural-condition context — an embedded
      // `UPDATE t SET done = 1` / `WHERE done = 1` on a same-named COLUMN
      // must stay integer SQL.
      val pgFlag =
        if (flagVar.startsWith("@")) "v_" + flagVar.drop(1) else flagVar
      if (handlerFlag.isDefined || hasFetch) {
        val cond = "(?i)\\b(IF|ELSIF|WHILE|WHEN|AND|OR|NOT)(\\s+)" +
          s"$pgFlag\\s*=\\s*"
        mb = mb
          .replaceAll(s"(?i)\\b$pgFlag\\s*:=\\s*(?:1|TRUE)\\s*(?=;)",
            s"$pgFlag := true")
          .replaceAll(s"(?i)\\b$pgFlag\\s*:=\\s*(?:0|FALSE)\\s*(?=;)",
            s"$pgFlag := false")
          .replaceAll(cond + "1\\b", s"$$1$$2$pgFlag = true")
          .replaceAll(cond + "0\\b", s"$$1$$2$pgFlag = false")
      }
      body = SqlRewriter.unmask(mb, bodyLits)

      // expression-level MySQL builtins → PG through the shared rewriter
      body = DdlConverter.pgScrub(SqlRewriter.rewrite(body)).trim

      // coerce the NOT FOUND flag's declaration to boolean (its MySQL
      // spelling is usually `DECLARE done INT DEFAULT FALSE` — invalid in
      // PG and type-incoherent with the FETCH tail's `:= true`); declare
      // it when the body never did (the reference's hardcoded-`done` path)
      val allDecls0 = decls ++ userDecls
      val allDecls =
        if (handlerFlag.isEmpty && !hasFetch) allDecls0
        else {
          val isFlag = (d: String) =>
            d.toLowerCase.startsWith(pgFlag.toLowerCase + " ") &&
              !d.toLowerCase.startsWith(pgFlag.toLowerCase + " cursor")
          val coerced = allDecls0.map(d =>
            if (isFlag(d)) s"$pgFlag boolean DEFAULT false;" else d)
          if (hasFetch && !coerced.exists(isFlag))
            coerced :+ s"$pgFlag boolean DEFAULT false;"
          else coerced
        }
      val declareBlock =
        if (allDecls.isEmpty) ""
        else "DECLARE\n  " + allDecls.mkString("\n  ") + "\n"
      val fn = name.toLowerCase
      val stmt =
        s"""CREATE OR REPLACE FUNCTION $fn($params)
           |RETURNS $returnType
           |$security
           |$volatility AS $$$$
           |${declareBlock}BEGIN
           |$body
           |END;
           |$$$$ LANGUAGE plpgsql""".stripMargin +
          comment.map(c => s";\nCOMMENT ON FUNCTION $fn IS '$c'").getOrElse("")
      Converted(fn, stmt)
    }
  }
}
