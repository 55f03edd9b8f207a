package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{Fingerprint, JsonFunctions, SortedIntersectSize}
import graft.sqlrewrite.{MySqlLexer, SqlRewriter}
import graft.types.TypeMapper

/** ScalaCheck property tests for the pure driver-side surfaces (SURVEY.md
  * §5 "adopted strategy"): the type mapper, the rewriter infrastructure,
  * and expression eval paths that need no SparkSession. */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, s"$name: ${r.status}")
  }

  // ---------------------------------------------------------- type mapper

  private val baseTypes = Gen.oneOf(
    "tinyint", "smallint", "mediumint", "int", "integer", "bigint", "float",
    "double", "decimal", "numeric", "char", "varchar", "text", "longtext",
    "blob", "binary", "varbinary", "datetime", "timestamp", "date", "time",
    "json", "enum", "set", "point", "geometry", "year", "bit", "bool")

  test("TypeMapper.map is total and structurally sound on fuzzed inputs") {
    val genType = for {
      base <- baseTypes
      p <- Gen.choose(0, 70)
      s <- Gen.choose(0, 35)
      args <- Gen.oneOf("", s"($p)", s"($p,$s)")
      unsigned <- Gen.oneOf("", " unsigned", " UNSIGNED")
      zerofill <- Gen.oneOf("", " zerofill")
      caps <- Gen.oneOf(true, false)
      pad <- Gen.oneOf("", "  ")
    } yield {
      val t = s"$pad$base$args$unsigned$zerofill$pad"
      if (caps) t.toUpperCase else t
    }
    check("map total", Prop.forAll(genType) { t =>
      val m = TypeMapper.map(t)
      val decimalOk = m.spark match {
        case d: DecimalType => d.precision <= 38 && d.scale <= d.precision
        case _ => true
      }
      m.pg.nonEmpty && decimalOk
    })
  }

  test("TypeMapper unsigned widening is monotone across the int ladder") {
    val ladder = Seq("tinyint" -> "smallint", "smallint" -> "int",
      "int" -> "bigint")
    ladder.foreach { case (t, _) =>
      val signed = TypeMapper.map(t, tinyint1Boolean = false).spark
      val widened = TypeMapper.map(s"$t unsigned", tinyint1Boolean = false).spark
      assert(signed.defaultSize <= widened.defaultSize,
        s"$t: $signed !<= $widened")
    }
  }

  // ------------------------------------------------- rewriter infrastructure

  test("maskStringLiterals round-trips arbitrary quoted SQL") {
    val fragment = Gen.oneOf("SELECT a", "x = ", ", ", "fn(", ")",
      "'lit''eral'", "'it\\'s'", "\"dq\"", "'%Y-%m'", "b", " FROM t",
      "`dir\\`", "/* it's \"q\" */", "-- it's a 'note'\n", "# \"x\n")
    val genSql = Gen.listOf(fragment).map(_.mkString)
    check("mask round-trip", Prop.forAll(genSql) { sql =>
      val (masked, lits) = SqlRewriter.maskStringLiterals(sql)
      SqlRewriter.unmask(masked, lits) == sql &&
        !masked.exists(c => c == '\'')
    })
  }

  test("rewrite preserves parenthesis balance on fuzzed MySQL calls") {
    val leaf = Gen.oneOf("a", "b.c", "1", "'s'", "NULL")
    def call(depth: Int): Gen[String] =
      if (depth == 0) leaf
      else for {
        fn <- Gen.oneOf("IFNULL", "JSON_EXTRACT", "CONCAT", "COALESCE",
          "JSON_SET", "ELT", "FIELD", "DATE_FORMAT", "GROUP_CONCAT", "HEX")
        n <- Gen.choose(1, 3)
        args <- Gen.listOfN(n, call(depth - 1))
      } yield s"$fn(${args.mkString(", ")})"
    val genSql = call(3).map(c => s"SELECT $c FROM t")
    check("paren balance", Prop.forAll(genSql) { sql =>
      val out = SqlRewriter.rewrite(sql)
      out.count(_ == '(') == out.count(_ == ')')
    })
  }

  test("translateDateFormat maps every %-token and quotes literals safely") {
    val tok = Gen.oneOf("%Y", "%y", "%m", "%d", "%H", "%i", "%S", "%f",
      "%M", "%b", "%W", "%a", "%p", "%j", "%T", "%r", "%%", "-", "/", " ", ":")
    val genFmt = Gen.listOf(tok).map(_.mkString)
    check("date format", Prop.forAll(genFmt) { f =>
      val out = SqlRewriter.translateDateFormat(f)
      !out.contains('%') || f.contains("%%")
    })
  }

  // ------------------------------------------------ expression eval (no session)

  private def strArray(xs: Seq[String]) =
    Literal.create(new GenericArrayData(xs.map(UTF8String.fromString)),
      ArrayType(StringType))

  test("SortedIntersectSize equals Set.intersect on sorted distinct arrays") {
    val genSet = Gen.listOf(Gen.alphaLowerStr.map(_.take(4))).map(_.distinct.sorted)
    check("sorted intersect", Prop.forAll(genSet, genSet) { (a, b) =>
      val got = SortedIntersectSize(strArray(a), strArray(b)).eval(null)
      got == a.toSet.intersect(b.toSet).size.toLong
    })
  }

  test("Fingerprint expression eval equals driver-side hashString") {
    check("fingerprint", Prop.forAll(Gen.asciiPrintableStr) { s =>
      Fingerprint(Literal.create(UTF8String.fromString(s), StringType))
        .eval(null) == Fingerprint.hashString(s)
    })
  }

  test("CopyEncoder field escaping round-trips") {
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case '\\' => sb.append('\\')
            case 't' => sb.append('\t')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case c => sb.append(c)
          }
          i += 2
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }
    check("copy escape", Prop.forAll(Gen.asciiStr) { s =>
      val enc = graft.transfer.CopyEncoder.escapeField(s)
      // encoded field contains no raw separators/newlines, and decodes back
      !enc.exists(c => c == '\t' || c == '\n' || c == '\r') && unescape(enc) == s
    })
  }

  test("JsonFunctions.parsePath round-trips generated paths") {
    val seg = Gen.oneOf(
      Gen.alphaLowerStr.suchThat(_.nonEmpty).map(n => JsonFunctions.Key(n.take(6))),
      Gen.choose(0, 99).map(JsonFunctions.Idx))
    val genSegs = Gen.nonEmptyListOf(seg)
    check("json path", Prop.forAll(genSegs) { segs =>
      val rendered = "$" + segs.map {
        case JsonFunctions.Key(k) => s".$k"
        case JsonFunctions.Idx(i) => s"[$i]"
      }.mkString
      JsonFunctions.parsePath(rendered).contains(segs)
    })
  }

  // ------------------------------------------------------- literal masker

  test("maskStringLiterals/unmask round-trips fuzzed SQL-ish text") {
    val frag = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.const(" "), Gen.const(","), Gen.const("("), Gen.const(")"),
      Gen.const("SELECT "), Gen.const("REGEXP"),
      // literals with the tricky escapes: '' doubling, \' escapes,
      // apostrophes inside backtick identifiers, double quotes
      Gen.const("'it''s'"), Gen.const("'a\\'b'"), Gen.const("\"dq\""),
      Gen.const("`id`"), Gen.const("`it's`"), Gen.const("`a``b`"),
      Gen.const("'-- not a comment'"), Gen.const("'%Y-%m'"),
      // backslashes inside backticks escape nothing; comments hold quotes
      Gen.const("`a\\`"), Gen.const("`x\\``y`"),
      Gen.const("-- it's `here`\n"), Gen.const("# \"dq\n"),
      Gen.const("/* 'a', \"b\" */"))
    val genSql = Gen.listOf(frag).map(_.mkString)
    check("mask roundtrip", Prop.forAll(genSql) { sql =>
      val (masked, lits) = SqlRewriter.maskStringLiterals(sql)
      // nothing quoted survives in the masked copy, and unmask restores
      // the input byte-for-byte
      val clean = !masked.contains("'") || sql.count(_ == '\'') % 2 == 1
      clean && SqlRewriter.unmask(masked, lits) == sql
    })
  }

  // Space-separated code and non-code fragments, so which index holds code
  // is known without lexing.
  private val genRuns: Gen[List[(String, Boolean)]] = Gen.listOf(Gen.oneOf(
    Gen.oneOf("SELECT a", "x =", ",", "fn(", ")", "b - c", "FROM t", "\n")
      .map(_ -> true),
    Gen.oneOf("'it''s'", "'a\\'b'", "\"d,q\"", "`id`", "`it's`", "`a\\`",
      "`x``y`", "/* 'a', \"b\" */", "-- it's `here`", "# \"dq")
      .map(_ -> false))).map(_.flatMap {
        // a line comment needs its end of line
        case (c, false) if c.startsWith("--") || c.startsWith("#") => List(c -> false, "\n" -> true)
        case r => List(r)
      })

  private def render(runs: List[(String, Boolean)]): String = runs.map(_._1).mkString(" ")

  test("blank mask keeps the length and blanks only non-code text") {
    check("blank length", Prop.forAll(genRuns) { runs =>
      val sql = render(runs)
      val b = MySqlLexer.blank(sql)
      b.length == sql.length && b.indices.forall(i => b(i) == sql(i) || b(i) == ' ')
    })
  }

  test("blank mask keeps every code character at its index") {
    check("blank code", Prop.forAll(genRuns) { runs =>
      val sql = render(runs)
      val b = MySqlLexer.blank(sql)
      val starts = runs.scanLeft(0)((at, r) => at + r._1.length + 1)
      runs.zip(starts).forall { case ((text, code), at) =>
        val got = b.substring(at, at + text.length)
        if (code) got == text
        // quoted content and comments are blanked; only delimiters remain
        else got.forall(c => c == ' ' || c == '\'' || c == '"' || c == '`')
      }
    })
  }

  // ------------------------------------------------------------ BPE core

  private val genDict: Gen[List[(String, Long)]] = Gen.nonEmptyListOf(for {
    w <- Gen.nonEmptyListOf(Gen.choose('a', 'e')).map(_.mkString.take(10))
    n <- Gen.choose(1L, 50L)
  } yield (w, n)).map(_.groupBy(_._1).view.mapValues(_.map(_._2).sum)
    .toList.sortBy(_._1))

  test("BPE trainer: greedy prefix stability on fuzzed dictionaries") {
    check("bpe prefix", Prop.forAll(genDict, Gen.choose(1, 6)) { (dict, k) =>
      val full = graft.ops.CorpusOps.learnMerges(dict, 8)
      val part = graft.ops.CorpusOps.learnMerges(dict, k)
      part == full.take(part.length) && part.length <= k
    })
  }

  test("BPE trainer: winning pair counts never increase round-over-round") {
    check("bpe monotone", Prop.forAll(genDict) { dict =>
      val counts = graft.ops.CorpusOps.learnMerges(dict, 8).map(_._4)
      counts == counts.sorted.reverse
    })
  }

  test("BPE trainer: every merged symbol composes from prior symbols") {
    check("bpe compose", Prop.forAll(genDict) { dict =>
      val known = collection.mutable.Set[String]()
      ('a' to 'e').foreach(c => known += c.toString)
      graft.ops.CorpusOps.learnMerges(dict, 8).forall { case (_, l, r, c) =>
        val ok = known(l) && known(r) && c > 0
        known += (l + r)
        ok
      }
    })
  }

  // --------------------------------------------------- SqlRewriter fuzzing

  // Nested compositions of every translated construct must come out
  // balanced, MySQL-keyword-free outside literals, and with string
  // literals untouched.

  private def genSqlExpr(d: Int): Gen[String] =
    if (d <= 0) Gen.oneOf("a", "`b`", "t.c", "1", "'lit '' x'", "NULL")
    else {
      val sub = Gen.lzy(genSqlExpr(d - 1))
      Gen.oneOf(
        Gen.zip(sub, sub).map { case (x, y) => s"IFNULL($x, $y)" },
        sub.map(x => s"CAST($x AS UNSIGNED)"),
        sub.map(x => s"CONVERT($x, CHAR)"),
        sub.map(x => s"CONVERT($x USING utf8mb4)"),
        Gen.zip(sub, sub).map { case (x, y) => s"STRCMP($x, $y)" },
        sub.map(x => s"TO_DAYS($x)"),
        sub.map(x => s"DATE_FORMAT($x, '%Y-%m-%d %H:%i:%s')"),
        sub.map(x => s"JSON_EXTRACT($x, '$$.k')"),
        sub.map(x => s"GROUP_CONCAT($x SEPARATOR '; ')"),
        sub.map(x => s"SUBSTRING_INDEX($x, ',', 2)"))
    }

  private val genSqlQuery: Gen[String] = for {
    e1 <- genSqlExpr(3)
    e2 <- genSqlExpr(2)
    off <- Gen.choose(0, 50)
    n <- Gen.choose(1, 50)
  } yield s"SELECT $e1 AS x, 'SENTINEL;()' AS s FROM t " +
    s"WHERE $e2 IS NOT NULL LIMIT $off, $n"

  test("SqlRewriter fuzz: rewritten queries are balanced and MySQL-free") {
    check("sqlrewriter fuzz", Prop.forAllNoShrink(genSqlQuery) { q =>
      val out = SqlRewriter.rewrite(q)
      val (masked, _) = SqlRewriter.maskStringLiterals(out)
      val checks = Seq(
        "balanced parens" ->
          (masked.count(_ == '(') == masked.count(_ == ')')),
        "no CONVERT" -> !"(?i)\\bCONVERT\\s*\\(".r.findFirstIn(masked).isDefined,
        "no STRCMP" -> !"(?i)\\bSTRCMP\\s*\\(".r.findFirstIn(masked).isDefined,
        "no TO_DAYS" -> !"(?i)\\bTO_DAYS\\s*\\(".r.findFirstIn(masked).isDefined,
        "no JSON_EXTRACT" ->
          !"(?i)\\bJSON_EXTRACT\\s*\\(".r.findFirstIn(masked).isDefined,
        "no GROUP_CONCAT" ->
          !"(?i)\\bGROUP_CONCAT\\s*\\(".r.findFirstIn(masked).isDefined,
        "no AS UNSIGNED" ->
          !"(?i)\\bAS\\s+UNSIGNED\\b".r.findFirstIn(masked).isDefined,
        "no MySQL LIMIT a,b" ->
          !"(?i)\\bLIMIT\\s+\\d+\\s*,".r.findFirstIn(masked).isDefined,
        "no % date tokens outside literals" -> !masked.contains("%"),
        "sentinel literal untouched" -> out.contains("'SENTINEL;()'"))
      val bad = checks.collect { case (nm, false) => nm }
      if (bad.nonEmpty) println(s"FAILED ${bad.mkString(",")} on:\n$q\nout:\n$out")
      bad.isEmpty
    })
  }

  // ------------------------------------------------- DdlConverter fuzzing

  // Same insurance as the FunctionDdl fuzz below, for the CREATE TABLE
  // path: random column shapes (quoting, reserved words, modifiers,
  // defaults, keyword-laden comments) must parse totally and emit
  // structurally sound PostgreSQL.

  private val declTypes = Gen.oneOf(
    "int", "bigint", "smallint", "varchar", "char", "text", "decimal",
    "double", "datetime", "date", "json", "blob", "tinyint")

  private def fuzzColumn(idx: Int): Gen[(String, String, Boolean, Boolean)] =
    for {
      base <- Gen.oneOf("id", "Select", "order", "val", "x")
      quoted <- Gen.oneOf(true, false)
      tpe <- declTypes
      p <- Gen.choose(1, 30)
      sc <- Gen.choose(0, 5)
      args <- Gen.oneOf("", s"($p)", s"($p,$sc)")
      unsigned <- Gen.oneOf("", " unsigned")
      notNull <- Gen.oneOf("", " NOT NULL")
      dflt <- Gen.oneOf("", " DEFAULT 0", " DEFAULT 'a''b'", " DEFAULT NULL")
      cmt <- Gen.oneOf("", " COMMENT 'has DEFAULT 5 -- and it''s fine'")
    } yield {
      val name = s"$base$idx"
      val rendered = (if (quoted) s"`$name`" else name) +
        s" $tpe$args$unsigned$notNull$dflt$cmt"
      (name, rendered, cmt.nonEmpty, dflt == " DEFAULT 0")
    }

  private val fuzzTable: Gen[(String, Seq[(String, Boolean, Boolean)])] = for {
    n <- Gen.choose(1, 8)
    cols <- Gen.sequence[Seq[(String, String, Boolean, Boolean)], (String, String, Boolean, Boolean)](
      (0 until n).map(fuzzColumn))
    tblCmt <- Gen.oneOf("", " COMMENT='tbl ''note'' ends'")
    pk <- Gen.oneOf(true, false)
  } yield {
    val pkLine = if (pk) s",\n  PRIMARY KEY (`${cols.head._1}`)" else ""
    val ddl = s"CREATE TABLE `T_fuzz` (\n  " +
      cols.map(_._2).mkString(",\n  ") + pkLine +
      s"\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4$tblCmt"
    (ddl, cols.map(c => (c._1, c._3, c._4)))
  }

  test("DdlConverter fuzz: parse is total and the PG emission is sound") {
    check("ddlconverter fuzz", Prop.forAllNoShrink(fuzzTable) {
      case (ddl, cols) =>
        val spec = graft.ddl.DdlConverter.parse(ddl)
        val pg = graft.ddl.DdlConverter.toPostgresDdl(spec)
        val create = pg.head
        val checks = Seq(
          "all columns parsed" -> (spec.columns.length == cols.length),
          "names survive" ->
            spec.columns.map(_.name).sameElements(cols.map(_._1)),
          "comments survive" -> cols.zip(spec.columns).forall {
            case ((_, hasCmt, _), c) =>
              c.comment.isDefined == hasCmt &&
                (!hasCmt || c.comment.get.contains("DEFAULT 5"))
          },
          "comment text fabricates no default" ->
            cols.zip(spec.columns).forall { case ((_, hasCmt, hasDflt), c) =>
              !hasCmt || hasDflt == c.default.contains("0")
            },
          "no backticks in PG" -> pg.forall(!_.contains("`")),
          "create balanced" ->
            (create.count(_ == '(') == create.count(_ == ')')),
          "one COMMENT ON COLUMN per commented col" ->
            (pg.count(_.startsWith("COMMENT ON COLUMN")) ==
              cols.count(_._2)))
        val bad = checks.collect { case (nm, false) => nm }
        if (bad.nonEmpty)
          println(s"FAILED ${bad.mkString(",")} on:\n$ddl\nspec: $spec\npg:\n${pg.mkString("\n")}")
        bad.isEmpty
    })
  }

  // ------------------------------------------------- FunctionDdl fuzzing

  // The reference needed ~50 lines of post-hoc repair regexes (double
  // semicolons, THEN THEN, LOOP LOOP, dangling END LOOP label —
  // sync_functions.go:76-125) because its ordered text passes DO produce
  // those states. Graft's structured pipeline should never need repair:
  // prove it by fuzzing nested procedural bodies and asserting the output
  // is structurally well formed.

  private def genPgCond: Gen[String] =
    Gen.oneOf("i < 10", "acc >= 0", "@cnt = 1", "i <> acc")

  private def genPgExpr: Gen[String] = Gen.oneOf(
    "1", "0", "i + 1", "acc + i", "IFNULL(i, 0)", "REPEAT('x', 2)",
    "@cnt + 1", "'a; b'")

  private def genLeafStmt: Gen[String] = Gen.frequency(
    6 -> (for {
      v <- Gen.oneOf("i", "acc", "@cnt", "@note")
      e <- genPgExpr
    } yield s"SET $v = $e;"),
    1 -> Gen.const("SET i = ROW_COUNT();"),
    1 -> Gen.const("RETURN acc;"))

  private def genStmtSeq(d: Int): Gen[String] = for {
    n <- Gen.choose(1, 3)
    xs <- Gen.listOfN(n, genProcStmt(d))
  } yield xs.mkString("\n")

  private def genProcStmt(d: Int): Gen[String] =
    if (d <= 0) genLeafStmt
    else Gen.frequency(
      4 -> genLeafStmt,
      2 -> (for {
        c <- genPgCond
        t <- genStmtSeq(d - 1)
        e <- Gen.option(genStmtSeq(d - 1))
      } yield s"IF $c THEN\n$t\n" +
        e.map(x => s"ELSE\n$x\n").getOrElse("") + "END IF;"),
      1 -> (for {
        l <- Gen.oneOf("l1", "l2", "outer_x")
        b <- genStmtSeq(d - 1)
        ctl <- Gen.oneOf("LEAVE", "ITERATE")
      } yield s"$l: LOOP\n$b\nIF i > 3 THEN $ctl $l; END IF;\n" +
        s"IF acc > 9 THEN LEAVE $l; END IF;\nEND LOOP $l;"),
      1 -> (for {
        b <- genStmtSeq(d - 1)
        c <- genPgCond
      } yield s"REPEAT\n$b\nUNTIL $c END REPEAT;"),
      1 -> (for {
        c <- genPgCond
        b <- genStmtSeq(d - 1)
      } yield s"WHILE $c DO\n$b\nEND WHILE;"))

  private val cursorPrelude =
    """  DECLARE done INT DEFAULT FALSE;
      |  DECLARE cv INT;
      |  DECLARE cur CURSOR FOR SELECT a FROM t;
      |  DECLARE CONTINUE HANDLER FOR NOT FOUND SET done = 1;""".stripMargin

  private val cursorLoop =
    """  OPEN cur;
      |  rl: LOOP
      |    FETCH cur INTO cv;
      |    IF done THEN LEAVE rl; END IF;
      |    SET acc = acc + cv;
      |  END LOOP rl;
      |  CLOSE cur;""".stripMargin

  private val genFuzzFn: Gen[(String, Boolean)] = for {
    withCursor <- Gen.oneOf(true, false)
    body <- genStmtSeq(3)
  } yield (s"""CREATE FUNCTION fz(p INT) RETURNS INT
BEGIN
  DECLARE i INT DEFAULT 0;
  DECLARE acc INT DEFAULT 0;
${if (withCursor) cursorPrelude + "\n" + cursorLoop + "\n" else ""}$body
  RETURN acc;
END""", withCursor)

  private def countTokens(s: String, re: String): Int =
    re.r.findAllMatchIn(s).size

  test("FunctionDdl fuzz: converted bodies are structurally well formed") {
    // no shrinking: ScalaCheck's String shrinker chops characters and
    // produces non-MySQL garbage that the converter rightly mangles
    check("functionddl fuzz", Prop.forAllNoShrink(genFuzzFn) { case (ddl, cursor) =>
      val out = graft.ddl.FunctionDdl.convert(ddl)
        .getOrElse(sys.error("convert returned None")).ddl
      val endIfs = countTokens(out, "(?i)\\bEND\\s+IF\\b")
      val ifs = countTokens(out, "(?i)\\bIF\\b") - endIfs
      val endLoops = countTokens(out, "(?i)\\bEND\\s+LOOP\\b")
      val loops = countTokens(out, "(?i)\\bLOOP\\b") - endLoops
      val bodyStart = out.indexOf("BEGIN")
      val bodyTail = out.substring(bodyStart)
      val checks = Seq(
        "IF balance" -> (ifs == endIfs),
        "LOOP balance" -> (loops == endLoops),
        "no ;;" -> !";\\s*;".r.findFirstIn(out).isDefined,
        "no THEN THEN" -> !"(?i)\\bTHEN\\s+THEN\\b".r.findFirstIn(out).isDefined,
        // NOTE deliberately NO "LOOP LOOP" check: directly nested REPEATs
        // legitimately convert to adjacent LOOP openers — the reference's
        // reLoopLoop repair regex (sync_functions.go:118) would corrupt
        // exactly that valid nesting
        "no END END" -> !"(?i)\\bEND\\s+END\\b".r.findFirstIn(out).isDefined,
        "no @" -> !out.contains("@"),
        "no DECLARE in body" ->
          !"(?i)\\bDECLARE\\b".r.findFirstIn(bodyTail).isDefined,
        "no LEAVE" -> !"(?i)\\bLEAVE\\b".r.findFirstIn(out).isDefined,
        "no ITERATE" -> !"(?i)\\bITERATE\\b".r.findFirstIn(out).isDefined,
        "no UNTIL" -> !"(?i)\\bUNTIL\\b".r.findFirstIn(out).isDefined,
        "no loop REPEAT" ->
          !"(?i)\\bREPEAT\\b(?!\\s*\\()".r.findFirstIn(out).isDefined,
        "no END WHILE" ->
          !"(?i)\\bEND\\s+WHILE\\b".r.findFirstIn(out).isDefined,
        "no dangling DO" -> !"(?i)\\bDO\\b".r.findFirstIn(out).isDefined,
        "no HANDLER" -> !"(?i)\\bHANDLER\\b".r.findFirstIn(out).isDefined,
        "cursor protocol" ->
          (!cursor || out.contains("IF NOT FOUND THEN done := true;")),
        "literal survives" ->
          (!out.contains("'a, b'") || out.contains("'a; b'")))
      val bad = checks.collect { case (n, false) => n }
      if (bad.nonEmpty) {
        println(s"FAILED ${bad.mkString(",")} on input:\n$ddl\noutput:\n$out")
      }
      bad.isEmpty
    })
  }
}
