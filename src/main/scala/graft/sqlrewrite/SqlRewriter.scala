package graft.sqlrewrite

import scala.util.matching.Regex

/** MySQL-dialect → Spark SQL rewriter — the reference's query-semantics
  * surface (SURVEY.md §2.4, `sync_viewddl.go:141-920`) re-targeted at Spark.
  *
  * The MySQL→Spark gap is far smaller than MySQL→PostgreSQL because Spark
  * inherited most MySQL function names (IFNULL, IF, CONCAT, SUBSTRING_INDEX,
  * LOCATE, DATE_FORMAT-alike, UNIX_TIMESTAMP, ...). What still needs
  * translation:
  *
  *  - `LIMIT offset, n`        → `LIMIT n OFFSET offset`   (sync_viewddl.go:26,217)
  *  - backtick identifiers     → kept (Spark uses backticks too)
  *  - `DATE_FORMAT(x,'%Y...')` → Java datetime pattern     (:91-93,592)
  *  - `STR_TO_DATE(x,'%Y...')` → `to_timestamp(x,'yyyy…')` (:592-593)
  *  - `GROUP_CONCAT(x [SEPARATOR s])` → `array_join(array_sort(collect_list(x)),s)`
  *                                                          (:16-20,177-193)
  *  - `CAST(x AS SIGNED|UNSIGNED)` → `BIGINT`              (:127-129,210-211)
  *  - `CONVERT(x, type)` / `CONVERT(x USING cs)` → `CAST`  (:24,1145-1202)
  *  - `STRCMP(a,b)` → CASE expression                      (:342-347)
  *  - `TO_DAYS(x)` → days-since-year-0 arithmetic          (:672-678)
  *  - `JSON_EXTRACT/JSON_VALUE/JSON_UNQUOTE` → `get_json_object` (:397-451)
  *  - `JSON_OBJECT/JSON_ARRAY` → `to_json(named_struct/array(...))` (:389-390)
  *  - `COLLATE`/charset modifiers dropped                  (:207)
  *  - `DIV` integer division   → `div` (native)
  *
  * Same infrastructure as the reference: string-literal masking
  * (`maskStringLiterals` :1087-1135), depth-matched call rewriting
  * (`processFunctionCall` :1040-1084), top-level comma splitting
  * (`splitTopLevelCommas` :937-977) — re-implemented from scratch in Scala.
  *
  * Everything here is driver-side, cold-path string work: the output is
  * handed to `spark.sql`, so Catalyst sees an ordinary plan and all
  * pushdown/codegen applies — this is what makes the rewritten views
  * *executable* rather than text artifacts (SURVEY.md §3 E3).
  */
object SqlRewriter {

  // ---------------------------------------------------------------- masking

  private val Token = "␀STR(\\d+)␀".r

  /** Replace every string literal, backtick identifier and comment (the
    * non-code runs of [[MySqlLexer]]) with a placeholder so regexes never
    * fire inside them; returns (masked, the replaced texts in order).
    * Keyword rewrites (REGEXP → RLIKE) must never rename a quoted
    * identifier, and an apostrophe inside one (`it's`) or inside a
    * comment must not open a phantom literal. */
  def maskStringLiterals(sql: String): (String, Vector[String]) = {
    val lits = scala.collection.mutable.ArrayBuffer[String]()
    val masked = MySqlLexer.render(sql) { (r, text) =>
      r.kind match {
        case MySqlLexer.Code | MySqlLexer.Marker => text
        case _ => lits += text; s"␀STR${lits.size - 1}␀"
      }
    }
    (masked, lits.toVector)
  }

  /** Put the masked texts back, in one pass over `sql`. */
  def unmask(sql: String, lits: Vector[String]): String =
    Token.replaceAllIn(sql, m => Regex.quoteReplacement(lits(m.group(1).toInt)))

  /** Lowercase SQL text with string literals preserved verbatim. Used by
    * the view converter's lowercase_columns mode; folding literals too
    * would silently change `WHERE status = 'ACTIVE'` semantics. Backtick
    * identifiers fold with the statement: they are identifiers, not data,
    * and leaving `MyCol` unfolded while the table DDL lowercases would
    * emit case-mismatched references. */
  def lowercaseOutsideLiterals(sql: String): String = MySqlLexer.render(sql) { (r, text) =>
    if (r.kind == MySqlLexer.Str) text else text.toLowerCase
  }

  // ------------------------------------------------------- call extraction

  /** Find `fn(` occurrences (case-insensitive, word boundary) and rewrite
    * each full call with a transformer over its depth-matched arg string. */
  def rewriteCalls(sql: String, fn: String)(transform: List[String] => String): String = {
    val pat = new Regex("(?i)\\b" + Regex.quote(fn) + "\\s*\\(")
    var s = sql
    var search = 0
    var guard = 0
    while (guard < 10000) {
      guard += 1
      pat.findFirstMatchIn(s.substring(search)) match {
        case None => return s
        case Some(m) =>
          val callStart = search + m.start
          val openParen = search + m.end - 1
          val close = matchParen(s, openParen)
          if (close < 0) return s
          // Rewrite nested same-function calls inside the args first
          // (JSON_EXTRACT(JSON_EXTRACT(j,'$.a'),'$.b'), nested COALESCE, ...);
          // recursion terminates because each arg is strictly shorter.
          val args = splitTopLevelCommas(s.substring(openParen + 1, close))
            .map(a => rewriteCalls(a, fn)(transform))
          val replacement = transform(args)
          s = s.substring(0, callStart) + replacement + s.substring(close + 1)
          search = callStart + replacement.length
      }
    }
    s
  }

  /** [[rewriteCalls]] for a rewrite defined on some argument lists only;
    * a call outside `pf` keeps its arguments under the name `fn`. */
  private def rewriteSome(sql: String, fn: String)(pf: PartialFunction[List[String], String]): String =
    rewriteCalls(sql, fn)(args => pf.applyOrElse(args, (a: List[String]) => s"$fn(${a.mkString(", ")})"))

  /** Index of the ')' matching the '(' at `open`, or -1. Parens inside
    * strings, identifiers and comments do not count. */
  def matchParen(s: String, open: Int): Int = {
    var depth = 0
    MySqlLexer.codeIndexes(s, open).find { i =>
      s.charAt(i) match {
        case '(' => depth += 1; false
        case ')' => depth -= 1; depth == 0
        case _ => false
      }
    }.getOrElse(-1)
  }

  /** Split on commas at paren depth 0 (reference splitTopLevelCommas),
    * trimming each part; commas and parens inside strings, identifiers
    * and comments do not count. */
  def splitTopLevelCommas(s: String): List[String] = {
    val parts = List.newBuilder[String]
    var depth = 0
    var start = 0
    MySqlLexer.codeIndexes(s).foreach { i =>
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => parts += s.substring(start, i).trim; start = i + 1
        case _ =>
      }
    }
    if (start < s.length || start > 0) parts += s.substring(start).trim
    parts.result()
  }

  // ------------------------------------------------- format-string mapping

  /** MySQL DATE_FORMAT % tokens → Java DateTimeFormatter patterns
    * (the translation the reference never needed since PG to_char shares
    * few tokens; Spark needs the real map). */
  private val mysqlFormatMap: Seq[(String, String)] = Seq(
    "%Y" -> "yyyy", "%y" -> "yy", "%M" -> "MMMM", "%b" -> "MMM",
    "%m" -> "MM", "%c" -> "M", "%d" -> "dd", "%e" -> "d",
    "%H" -> "HH", "%k" -> "H", "%h" -> "hh", "%I" -> "hh", "%l" -> "h",
    "%i" -> "mm", "%S" -> "ss", "%s" -> "ss", "%f" -> "SSSSSS",
    "%p" -> "a", "%W" -> "EEEE", "%a" -> "EEE", "%j" -> "DDD",
    "%T" -> "HH:mm:ss", "%r" -> "hh:mm:ss a", "%%" -> "%")

  def translateDateFormat(mysqlFmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < mysqlFmt.length) {
      if (mysqlFmt.charAt(i) == '%' && i + 1 < mysqlFmt.length) {
        val tok = mysqlFmt.substring(i, i + 2)
        mysqlFormatMap.find(_._1 == tok) match {
          case Some((_, jt)) => sb.append(jt)
          case None => sb.append(tok.charAt(1))
        }
        i += 2
      } else {
        val c = mysqlFmt.charAt(i)
        // Literal chars that are pattern letters in Java need quoting.
        // Consecutive letters must share ONE quoted run: per-letter quoting
        // would emit 'a''t' which DateTimeFormatter reads as a't ('' is an
        // escaped quote inside quoted text).
        if (c.isLetter) {
          sb.append('\'')
          while (i < mysqlFmt.length && mysqlFmt.charAt(i).isLetter &&
                 mysqlFmt.charAt(i) != '%') {
            sb.append(mysqlFmt.charAt(i)); i += 1
          }
          sb.append('\'')
        } else { sb.append(if (c == '\'') "''" else c); i += 1 } // ' is '' in Java
      }
    }
    sb.toString
  }

  /** Resolve an arg that is exactly one masked literal token to its
    * unquoted text (None for anything else). */
  private def litText(arg: String, lits: Vector[String]): Option[String] =
    arg.trim match {
      case Token(idx) => val raw = lits(idx.toInt); Some(raw.substring(1, raw.length - 1))
      case _ => None
    }

  /** Translate EVERY masked literal inside a format arg — the arg may be
    * an expression (CONCAT('%Y','-%m')); replacing the whole arg with its
    * first literal would silently drop the surrounding expression. */
  private def translateFmtArg(arg: String, lits: Vector[String]): String =
    Token.replaceAllIn(arg, mm => {
      val raw = lits(mm.group(1).toInt)
      if (raw.length >= 2 && (raw.head == '\'' || raw.head == '"')) {
        // MySQL escapes decoded, then re-escaped for Spark SQL, where ''
        // ends one literal and starts the next
        val fmt = translateDateFormat(MySqlLexer.stringValue(raw))
        java.util.regex.Matcher.quoteReplacement(
          "'" + fmt.replace("\\", "\\\\").replace("'", "\\'") + "'")
      } else java.util.regex.Matcher.quoteReplacement(mm.matched)
    })

  // ----------------------------------------------------------- main entry

  /** Rewrite one MySQL SELECT/VIEW body into Spark SQL. */
  def rewrite(mysqlSql: String): String = {
    // strings, identifiers and comments become tokens; MySQL version
    // comments /*!40101 ... */ unwrap (sync_tableddl.go:63)
    val (masked0, lits) = maskStringLiterals(mysqlSql)
    var s = MySqlLexer.stripComments(masked0)
    // COLLATE / charset introducers dropped (sync_viewddl.go:207)
    s = s.replaceAll("(?i)\\s+COLLATE\\s+\\w+", "")
    s = s.replaceAll("(?i)_utf8mb4\\s*", "").replaceAll("(?i)_latin1\\s*", "")

    // db-name prefix strip in table references (sync_viewddl.go:159-164):
    // only after FROM/JOIN/INTO so column refs like alias.col are untouched
    s = s.replaceAll(
      "(?i)\\b(FROM|JOIN|INTO)\\s+(?:\\w+|␀STR\\d+␀)\\.(\\w+|␀STR\\d+␀)", "$1 $2")

    // LIMIT a,b → LIMIT b OFFSET a (sync_viewddl.go:26,217)
    s = s.replaceAll("(?i)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+)", "LIMIT $2 OFFSET $1")

    // CAST(x AS SIGNED|UNSIGNED [INTEGER]) → CAST(x AS BIGINT)
    s = s.replaceAll("(?i)\\bAS\\s+UNSIGNED(\\s+INTEGER)?\\b", "AS BIGINT")
    s = s.replaceAll("(?i)\\bAS\\s+SIGNED(\\s+INTEGER)?\\b", "AS BIGINT")

    // CONVERT(x USING charset) → CAST(x AS STRING); CONVERT(x, t) → CAST
    val usingCharset: PartialFunction[List[String], String] = {
      case List(a) if a.matches("(?is).*\\bUSING\\b.*") =>
        s"CAST(${a.replaceAll("(?is)\\bUSING\\b.*$", "").trim} AS STRING)"
    }
    s = rewriteSome(s, "CONVERT")(usingCharset orElse {
      case List(e, t) =>
        val ty = t.trim.toUpperCase match {
          case "SIGNED" | "UNSIGNED" => "BIGINT"
          case "CHAR" => "STRING"
          case other => other
        }
        s"CAST($e AS $ty)"
    })
    // CAST(x USING charset) variant
    s = rewriteSome(s, "CAST")(usingCharset)

    // GROUP_CONCAT([DISTINCT] x [ORDER BY k [ASC|DESC]] [SEPARATOR 's'])
    //   → array_join over a sorted collect. Unlike the reference, which
    // silently DROPS the ORDER BY (:177-193), a general single-key ordering
    // is honored by collecting (key, value) structs, sorting (array_sort
    // orders structs field-by-field), optionally reversing for DESC, and
    // projecting the value back out.
    s = rewriteCalls(s, "GROUP_CONCAT") { args =>
      val joined = args.mkString(",")
      var body = joined
      var sep = "','"
      val sepM = "(?is)\\bSEPARATOR\\s+(␀STR\\d+␀|\\S+)\\s*$".r.findFirstMatchIn(body)
      sepM.foreach { m => sep = m.group(1); body = body.substring(0, m.start).trim }
      // keys split on TOP-LEVEL commas with per-key direction — a single
      // trailing-anchored capture turned `ORDER BY a DESC, b` into the
      // unparseable struct key "a DESC,b"
      var orderKeys: List[(String, Boolean)] = Nil
      val obM = "(?is)\\bORDER\\s+BY\\s+(.+)$".r.findFirstMatchIn(body)
      obM.foreach { m =>
        orderKeys = splitTopLevelCommas(m.group(1)).map { kk =>
          val t = kk.trim
          (t.replaceAll("(?is)\\s+(ASC|DESC)\\s*$", "").trim,
            "(?is)\\s+DESC\\s*$".r.findFirstIn(t).isDefined)
        }
        body = body.substring(0, m.start).trim
      }
      val distinct = body.matches("(?is)^DISTINCT\\b.*")
      val e = if (distinct) body.replaceFirst("(?is)^DISTINCT\\b", "").trim else body
      val sameDir = orderKeys.map(_._2).distinct.size <= 1
      orderKeys match {
        case ks if ks.nonEmpty && sameDir && ks.map(_._1) != List(e) =>
          // DISTINCT must dedupe VALUES, not (key, value) pairs — two rows
          // with different keys and the same value yield the value once in
          // MySQL. Sort by keys first (array_sort orders structs
          // field-by-field, so multi-key works when all directions agree),
          // project to values, then array_distinct (which keeps first
          // occurrence, i.e. each value at its best key).
          val desc = ks.head._2
          val keyFields =
            if (ks.size == 1) s"${ks.head._1} AS k"
            else ks.map(_._1).zipWithIndex
              .map { case (k, i) => s"$k AS k$i" }.mkString(", ")
          val collect = s"collect_list(struct($keyFields, $e AS v))"
          val sorted = s"array_sort($collect)"
          val ordered = if (desc) s"reverse($sorted)" else sorted
          val values = s"transform($ordered, p -> p.v)"
          val deduped = if (distinct) s"array_distinct($values)" else values
          s"array_join($deduped, $sep)"
        case List((k, true)) if k == e =>
          val collect = if (distinct) s"collect_set($e)" else s"collect_list($e)"
          s"array_join(reverse(array_sort($collect)), $sep)"
        case ks if ks.nonEmpty && !sameDir =>
          // mixed ASC/DESC keys cannot ride one array_sort+reverse; the
          // reference DROPS GROUP_CONCAT ordering entirely
          // (sync_viewddl.go:177-193) — match it, keeping a deterministic
          // value sort
          val collect = if (distinct) s"collect_set($e)" else s"collect_list($e)"
          s"array_join(array_sort($collect), $sep)"
        case _ =>
          val collect = if (distinct) s"collect_set($e)" else s"collect_list($e)"
          s"array_join(array_sort($collect), $sep)"
      }
    }

    // DATE_FORMAT(x, fmt) → date_format(x, javaFmt)
    s = rewriteSome(s, "DATE_FORMAT") {
      case List(x, fmt) => s"date_format($x, ${translateFmtArg(fmt, lits)})"
    }
    // STR_TO_DATE(x, fmt) → to_timestamp(x, javaFmt)
    s = rewriteSome(s, "STR_TO_DATE") {
      case List(x, fmt) => s"to_timestamp($x, ${translateFmtArg(fmt, lits)})"
    }

    // STRCMP(a,b) → CASE (sync_viewddl.go:342-347)
    s = rewriteSome(s, "STRCMP") {
      case List(a, b) =>
        s"(CASE WHEN ($a) = ($b) THEN 0 WHEN ($a) < ($b) THEN -1 ELSE 1 END)"
    }

    // TO_DAYS(x) → days since year 0 (MySQL TO_DAYS('1970-01-01')=719528)
    s = rewriteSome(s, "TO_DAYS") {
      case List(x) => s"CAST(datediff(CAST($x AS DATE), DATE '1970-01-01') + 719528 AS BIGINT)"
    }
    // TIME_TO_SEC(x) → seconds since midnight
    s = rewriteSome(s, "TIME_TO_SEC") {
      case List(x) =>
        s"(hour($x)*3600 + minute($x)*60 + second($x))"
    }
    // TIMEDIFF(a,b) → interval subtraction (sync_viewddl.go:97,595)
    s = rewriteSome(s, "TIMEDIFF") { case List(a, b) => s"($a - $b)" }
    // SEC_TO_TIME(n) → day-time interval (sync_viewddl.go:687-699)
    s = rewriteSome(s, "SEC_TO_TIME") {
      case List(n) => s"make_dt_interval(0, 0, 0, CAST($n AS DOUBLE))"
    }
    // TIME(x) → time-of-day string (consistent with the TIME mapping note)
    s = rewriteSome(s, "TIME") { case List(x) => s"date_format($x, 'HH:mm:ss')" }
    // JSON_DEPTH / JSON_OVERLAPS unsupported → NULL (sync_viewddl.go:432-437)
    s = rewriteCalls(s, "JSON_DEPTH") { _ => "CAST(NULL AS INT)" }
    s = rewriteCalls(s, "JSON_OVERLAPS") { _ => "CAST(NULL AS BOOLEAN)" }
    // JSON_TYPE(j) → first-character heuristic (sync_viewddl.go:438-443)
    s = rewriteSome(s, "JSON_TYPE") {
      case List(j) =>
        s"(CASE WHEN ($j) IS NULL THEN NULL" +
          s" WHEN left(ltrim($j), 1) = '{' THEN 'OBJECT'" +
          s" WHEN left(ltrim($j), 1) = '[' THEN 'ARRAY'" +
          s" WHEN left(ltrim($j), 1) = '\"' THEN 'STRING'" +
          s" WHEN lower(trim($j)) IN ('true', 'false') THEN 'BOOLEAN'" +
          s" WHEN trim($j) = 'null' THEN 'NULL'" +
          s" ELSE 'NUMBER' END)"
    }

    // COALESCE args force-cast to string (sync_viewddl.go:377-383) — MySQL
    // freely mixes tinyint(1)/int in COALESCE; Spark's coercion refuses
    // BOOLEAN-vs-INT, so the reference's text-cast rule is kept verbatim.
    s = rewriteCalls(s, "COALESCE") { args =>
      s"coalesce(${args.map(a => s"CAST($a AS STRING)").mkString(", ")})"
    }
    // WEEK(d) → ISO week (reference maps to extract(week), :636-655)
    s = rewriteSome(s, "WEEK") { case List(d) => s"weekofyear($d)" }
    // JSON_CONTAINS_PATH(j, 'one'|'all', p...) → null-check combination
    // (sync_viewddl.go:424-431)
    s = rewriteSome(s, "JSON_CONTAINS_PATH") {
      case j :: modeArg :: paths if paths.nonEmpty =>
        // the mode arg is a MASKED literal token at this point — the raw
        // text never contains 'all', so resolve it through lits (a bare
        // contains() on the token silently degraded every 'all' to OR)
        val mode = litText(modeArg, lits).getOrElse(modeArg).toLowerCase
        val checks = paths.map(p => s"get_json_object($j, $p) IS NOT NULL")
        s"(${checks.mkString(if (mode.contains("all")) " AND " else " OR ")})"
    }

    // JSON mutators → graft_json_* custom expressions, multi-pair calls
    // folded into nested binary/ternary applications
    // (sync_viewddl.go:39-45, :452-474; JsonFunctions must be registered)
    def foldPairs(fn: String): PartialFunction[List[String], String] = {
      case j :: pairs if pairs.nonEmpty && pairs.size % 2 == 0 =>
        pairs.grouped(2).foldLeft(j)((acc, pv) => s"$fn($acc, ${pv.mkString(", ")})")
    }
    def nest(fn: String): PartialFunction[List[String], String] = {
      case j :: rest if rest.nonEmpty => rest.foldLeft(j)((acc, x) => s"$fn($acc, $x)")
    }
    s = rewriteSome(s, "JSON_SET")(foldPairs("graft_json_set"))
    s = rewriteSome(s, "JSON_INSERT")(foldPairs("graft_json_insert"))
    s = rewriteSome(s, "JSON_REPLACE")(foldPairs("graft_json_replace"))
    s = rewriteSome(s, "JSON_ARRAY_APPEND")(foldPairs("graft_json_array_append"))
    s = rewriteSome(s, "JSON_REMOVE")(nest("graft_json_remove"))
    s = rewriteSome(s, "JSON_MERGE_PATCH")(nest("graft_json_merge_patch"))
    s = rewriteSome(s, "JSON_MERGE_PRESERVE")(nest("graft_json_merge_preserve"))
    s = rewriteSome(s, "JSON_MERGE")(nest("graft_json_merge_preserve"))

    // JSON surface → Spark JSON functions (sync_viewddl.go:389-474)
    s = rewriteCalls(s, "JSON_UNQUOTE") { args => args.mkString(", ") } // get_json_object already unquotes
    s = rewriteSome(s, "JSON_EXTRACT") { case List(j, p) => s"get_json_object($j, $p)" }
    s = rewriteSome(s, "JSON_VALUE") { case List(j, p) => s"get_json_object($j, $p)" }
    s = rewriteCalls(s, "JSON_OBJECT") { args =>
      s"to_json(named_struct(${args.mkString(", ")}))"
    }
    s = rewriteCalls(s, "JSON_ARRAY") { args =>
      s"to_json(array(${args.mkString(", ")}))"
    }
    s = rewriteSome(s, "JSON_LENGTH") {
      // MySQL: array → element count, object → key count, scalar → 1
      // (json_array_length alone returns NULL for objects/scalars)
      case List(j) =>
        s"(CASE WHEN ($j) IS NULL THEN NULL" +
          s" WHEN startswith(ltrim($j), '[') THEN json_array_length($j)" +
          s" WHEN startswith(ltrim($j), '{') THEN size(from_json($j, 'map<string,string>'))" +
          s" ELSE 1 END)"
    }
    s = rewriteSome(s, "JSON_KEYS") { case List(j) => s"json_object_keys($j)" }
    s = rewriteSome(s, "JSON_VALID") {
      case List(j) =>
        s"(CASE WHEN ($j) IS NULL THEN NULL WHEN get_json_object($j, '$$') IS NOT NULL OR from_json($j, 'map<string,string>') IS NOT NULL THEN true ELSE false END)"
    }

    // MySQL INSERT(str,pos,len,new) → overlay (sync_viewddl.go:99,477-502)
    s = rewriteSome(s, "INSERT") {
      case List(str, pos, len, rep) => s"overlay($str, $rep, $pos, $len)"
    }
    // DAYNAME / MONTHNAME → date_format patterns
    s = rewriteSome(s, "DAYNAME") { case List(x) => s"date_format($x, 'EEEE')" }
    s = rewriteSome(s, "MONTHNAME") { case List(x) => s"date_format($x, 'MMMM')" }
    // ADDDATE/SUBDATE(d, n) → date_add/date_sub; INTERVAL forms pass through
    // as native `d + INTERVAL n unit` arithmetic (sync_viewddl.go:57-67)
    s = rewriteSome(s, "ADDDATE") {
      case List(d, n) if !n.toUpperCase.contains("INTERVAL") => s"date_add($d, $n)"
      case List(d, iv) => s"($d + ${iv.trim})"
    }
    s = rewriteSome(s, "SUBDATE") {
      case List(d, n) if !n.toUpperCase.contains("INTERVAL") => s"date_sub($d, $n)"
      case List(d, iv) => s"($d - ${iv.trim.replaceFirst("(?i)^INTERVAL\\s+", "INTERVAL ")})"
    }
    // ELT(n, a, b, ...) → element_at(array(...), n)
    s = rewriteSome(s, "ELT") {
      case n :: xs if xs.nonEmpty => s"element_at(array(${xs.mkString(", ")}), CAST($n AS INT))"
    }
    // FIELD(x, a, b, ...) → array_position(array(...), x)
    s = rewriteSome(s, "FIELD") {
      case x :: xs if xs.nonEmpty => s"CAST(array_position(array(${xs.mkString(", ")}), $x) AS BIGINT)"
    }
    // FORMAT(x, d) → format_number
    s = rewriteSome(s, "FORMAT") { case List(x, d) => s"format_number($x, $d)" }
    // MID(s, p, l) → substring (MySQL alias Spark lacks)
    s = rewriteSome(s, "MID") { case List(str, p, l) => s"substring($str, $p, $l)" }
    // DATE_ADD/DATE_SUB(d, INTERVAL n unit) → interval arithmetic
    // (sync_viewddl.go:57-67, 706-803); plain numeric second arg is native
    s = rewriteCalls(s, "DATE_ADD") {
      case List(d, iv) if iv.toUpperCase.startsWith("INTERVAL") => s"($d + $iv)"
      case args => s"date_add(${args.mkString(", ")})"
    }
    s = rewriteCalls(s, "DATE_SUB") {
      case List(d, iv) if iv.toUpperCase.startsWith("INTERVAL") => s"($d - $iv)"
      case args => s"date_sub(${args.mkString(", ")})"
    }
    // JSON_PRETTY → identity (PG jsonb_pretty has no Spark analogue; the
    // JSON text is already canonical for comparison purposes)
    s = rewriteSome(s, "JSON_PRETTY") { case List(j) => j }
    // a REGEXP b → a RLIKE b (sync_functions.go:21,505)
    s = s.replaceAll("(?i)\\bREGEXP\\b", "RLIKE")

    // CURTIME() is a TIME-of-day value: keep the module's TIME convention
    // (HH:mm:ss string), NOT current_timestamp (which would silently turn
    // time comparisons into timestamp-vs-time ones)
    s = s.replaceAll("(?i)\\bCURTIME\\s*\\(\\s*\\)",
      "date_format(current_timestamp(), 'HH:mm:ss')")
    // SYSDATE() → current_timestamp() (NOW/CURDATE are native)
    s = s.replaceAll("(?i)\\bSYSDATE\\s*\\(\\s*\\)", "current_timestamp()")
    // UUID_SHORT() → monotonically increasing id
    s = s.replaceAll("(?i)\\bUUID_SHORT\\s*\\(\\s*\\)", "monotonically_increasing_id()")
    // RAND() is native; DATABASE() → current_database(); no-op renames:
    s = s.replaceAll("(?i)\\bDATABASE\\s*\\(\\s*\\)", "current_database()")
    s = s.replaceAll("(?i)\\bSCHEMA\\s*\\(\\s*\\)", "current_schema()")

    unmask(s, lits)
  }

  /** Rewrite + execute against registered temp views. */
  def sql(spark: org.apache.spark.sql.SparkSession, mysqlSql: String): org.apache.spark.sql.DataFrame =
    spark.sql(rewrite(mysqlSql))
}
