package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.sqlrewrite.SqlRewriter
import graft.sqlrewrite.SqlRewriter.{rewrite, translateDateFormat}

class SqlRewriterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("sql-rewriter-spec", 1)

  override def afterAll(): Unit = spark.stop()

  test("LIMIT offset,n → LIMIT n OFFSET offset") {
    assert(rewrite("SELECT a FROM t LIMIT 5, 100").contains("LIMIT 100 OFFSET 5"))
    assert(rewrite("select a from t limit 0,10").contains("LIMIT 10 OFFSET 0"))
    // a backslash inside a backtick identifier escapes nothing
    assert(rewrite("SELECT `dir\\` AS d, IFNULL(x, 1) AS y FROM t LIMIT 5, 10") ==
      "SELECT `dir\\` AS d, IFNULL(x, 1) AS y FROM t LIMIT 10 OFFSET 5")
    // comments are masked and restored verbatim, closer included, and an
    // apostrophe inside one opens no literal
    assert(rewrite("SELECT /* note */ IFNULL(x, 1) AS y FROM t LIMIT 5, 10") ==
      "SELECT /* note */ IFNULL(x, 1) AS y FROM t LIMIT 10 OFFSET 5")
    assert(rewrite("SELECT x -- it's a note\nFROM t LIMIT 5, 10") ==
      "SELECT x -- it's a note\nFROM t LIMIT 10 OFFSET 5")
  }

  test("LIMIT inside a string literal is untouched") {
    val sql = "SELECT 'LIMIT 5, 100' AS s FROM t"
    assert(rewrite(sql) == sql)
  }

  test("CAST AS SIGNED/UNSIGNED → BIGINT") {
    assert(rewrite("SELECT CAST(x AS SIGNED) FROM t").contains("CAST(x AS BIGINT)"))
    assert(rewrite("SELECT CAST(x AS UNSIGNED INTEGER) FROM t").contains("CAST(x AS BIGINT)"))
  }

  test("CONVERT two-arg and USING forms") {
    assert(rewrite("SELECT CONVERT(x, SIGNED) FROM t").contains("CAST(x AS BIGINT)"))
    assert(rewrite("SELECT CONVERT(x, CHAR) FROM t").contains("CAST(x AS STRING)"))
    assert(rewrite("SELECT CONVERT(x USING utf8mb4) FROM t").contains("CAST(x AS STRING)"))
    assert(rewrite("SELECT CAST(x USING utf8) FROM t").contains("CAST(x AS STRING)"))
  }

  test("GROUP_CONCAT plain / DISTINCT / SEPARATOR") {
    assert(rewrite("SELECT GROUP_CONCAT(name) FROM t") ==
      "SELECT array_join(array_sort(collect_list(name)), ',') FROM t")
    assert(rewrite("SELECT GROUP_CONCAT(DISTINCT seg SEPARATOR '|') FROM t") ==
      "SELECT array_join(array_sort(collect_set(seg)), '|') FROM t")
    assert(rewrite("SELECT GROUP_CONCAT(name ORDER BY name SEPARATOR ';') FROM t") ==
      "SELECT array_join(array_sort(collect_list(name)), ';') FROM t")
  }

  test("GROUP_CONCAT honors ORDER BY on a different key (reference drops it)") {
    assert(rewrite("SELECT GROUP_CONCAT(name ORDER BY id SEPARATOR '|') FROM t") ==
      "SELECT array_join(transform(array_sort(collect_list(struct(id AS k, name AS v))), p -> p.v), '|') FROM t")
    assert(rewrite("SELECT GROUP_CONCAT(name ORDER BY id DESC) FROM t") ==
      "SELECT array_join(transform(reverse(array_sort(collect_list(struct(id AS k, name AS v)))), p -> p.v), ',') FROM t")
    assert(rewrite("SELECT GROUP_CONCAT(name ORDER BY name DESC) FROM t") ==
      "SELECT array_join(reverse(array_sort(collect_list(name))), ',') FROM t")
    // DISTINCT with a different order key dedupes VALUES (not (k,v) pairs):
    // rows (1,'a'),(2,'a') must yield 'a' once, like MySQL
    assert(rewrite("SELECT GROUP_CONCAT(DISTINCT name ORDER BY id) FROM t") ==
      "SELECT array_join(array_distinct(transform(array_sort(collect_list(struct(id AS k, name AS v))), p -> p.v)), ',') FROM t")
  }

  test("GROUP_CONCAT with nested function arg") {
    assert(rewrite("SELECT GROUP_CONCAT(CONCAT(a, b)) FROM t") ==
      "SELECT array_join(array_sort(collect_list(CONCAT(a, b))), ',') FROM t")
  }

  test("DATE_FORMAT pattern translation") {
    assert(translateDateFormat("%Y-%m-%d") == "yyyy-MM-dd")
    assert(translateDateFormat("%H:%i:%S") == "HH:mm:ss")
    assert(translateDateFormat("%M %e, %Y") == "MMMM d, yyyy")
    // literal pattern letters are quoted
    assert(translateDateFormat("%Yq%c") == "yyyy'q'M")
    // consecutive literal letters share one quoted run: per-letter quoting
    // would produce 'a''t' = the escaped-quote literal a't
    assert(translateDateFormat("%d at %H") == "dd 'at' HH")
    // JSON_LENGTH distinguishes arrays, objects, scalars (MySQL semantics)
    val jl = rewrite("SELECT JSON_LENGTH(j) FROM t")
    assert(jl.contains("json_array_length(j)") &&
      jl.contains("from_json(j, 'map<string,string>')") && jl.contains("ELSE 1"))
    // CURTIME keeps a time-of-day value, not a full timestamp
    assert(rewrite("SELECT CURTIME() FROM t") ==
      "SELECT date_format(current_timestamp(), 'HH:mm:ss') FROM t")
    assert(rewrite("SELECT DATE_FORMAT(d, '%Y-%m-%d') FROM t") ==
      "SELECT date_format(d, 'yyyy-MM-dd') FROM t")
  }

  test("DATE_FORMAT decodes MySQL escapes in its pattern") {
    // a backslash-escaped and a doubled quote both mean one apostrophe
    for (fmt <- Seq("'%Y\\'s'", "'%Y''s'"))
      assert(SqlRewriter.sql(spark, s"SELECT DATE_FORMAT(DATE '2024-01-01', $fmt) AS y")
        .head().getString(0) == "2024's", fmt)
  }

  test("STR_TO_DATE → to_timestamp with translated pattern") {
    assert(rewrite("SELECT STR_TO_DATE(s, '%d/%m/%Y') FROM t") ==
      "SELECT to_timestamp(s, 'dd/MM/yyyy') FROM t")
  }

  test("STRCMP → CASE") {
    val out = rewrite("SELECT STRCMP(a, b) FROM t")
    assert(out.contains("WHEN (a) = (b) THEN 0"))
    assert(out.contains("WHEN (a) < (b) THEN -1 ELSE 1"))
  }

  test("JSON functions") {
    assert(rewrite("SELECT JSON_EXTRACT(j, '$.k') FROM t") ==
      "SELECT get_json_object(j, '$.k') FROM t")
    assert(rewrite("SELECT JSON_UNQUOTE(JSON_EXTRACT(j, '$.k')) FROM t") ==
      "SELECT get_json_object(j, '$.k') FROM t")
    assert(rewrite("SELECT JSON_OBJECT('a', 1) FROM t") ==
      "SELECT to_json(named_struct('a', 1)) FROM t")
    assert(rewrite("SELECT JSON_ARRAY(1, 2) FROM t") ==
      "SELECT to_json(array(1, 2)) FROM t")
  }

  test("TO_DAYS epoch anchor") {
    assert(rewrite("SELECT TO_DAYS(d) FROM t") ==
      "SELECT CAST(datediff(CAST(d AS DATE), DATE '1970-01-01') + 719528 AS BIGINT) FROM t")
  }

  test("db-name prefix stripped from table refs only") {
    assert(rewrite("SELECT a.x FROM mydb.orders a JOIN mydb.`lineitem` l ON a.k = l.k") ==
      "SELECT a.x FROM orders a JOIN `lineitem` l ON a.k = l.k")
    // column qualifications survive
    assert(rewrite("SELECT t.col FROM orders t WHERE t.col > 1") ==
      "SELECT t.col FROM orders t WHERE t.col > 1")
  }

  test("COLLATE and charset introducers dropped") {
    assert(rewrite("SELECT a COLLATE utf8mb4_general_ci FROM t") == "SELECT a FROM t")
    assert(rewrite("SELECT _utf8mb4'x' FROM t") == "SELECT 'x' FROM t")
  }

  test("string literal masking roundtrip with escapes") {
    val sql = "SELECT 'it''s', 'a\\'b', \"q\" FROM t"
    assert(rewrite(sql) == sql)
  }

  test("SYSDATE / UUID_SHORT / DATABASE rewrites") {
    assert(rewrite("SELECT SYSDATE() FROM t") == "SELECT current_timestamp() FROM t")
    assert(rewrite("SELECT UUID_SHORT() FROM t") == "SELECT monotonically_increasing_id() FROM t")
    assert(rewrite("SELECT DATABASE() FROM t") == "SELECT current_database() FROM t")
  }

  test("INSERT → overlay; DAYNAME/MONTHNAME; ADDDATE/SUBDATE; REGEXP") {
    assert(rewrite("SELECT INSERT(s, 2, 3, 'xy') FROM t") ==
      "SELECT overlay(s, 'xy', 2, 3) FROM t")
    assert(rewrite("INSERT INTO t VALUES (1)") == "INSERT INTO t VALUES (1)")
    assert(rewrite("SELECT DAYNAME(d) FROM t") == "SELECT date_format(d, 'EEEE') FROM t")
    assert(rewrite("SELECT MONTHNAME(d) FROM t") == "SELECT date_format(d, 'MMMM') FROM t")
    assert(rewrite("SELECT ADDDATE(d, 30) FROM t") == "SELECT date_add(d, 30) FROM t")
    assert(rewrite("SELECT SUBDATE(d, 15) FROM t") == "SELECT date_sub(d, 15) FROM t")
    assert(rewrite("SELECT ADDDATE(d, INTERVAL 1 DAY) FROM t") ==
      "SELECT (d + INTERVAL 1 DAY) FROM t")
    assert(rewrite("SELECT a FROM t WHERE a REGEXP '^x'") ==
      "SELECT a FROM t WHERE a RLIKE '^x'")
  }

  test("corpus-gate rewrites: COALESCE cast, WEEK, TIME, TIMEDIFF, JSON extras") {
    assert(rewrite("SELECT COALESCE(a, b, 0) FROM t") ==
      "SELECT coalesce(CAST(a AS STRING), CAST(b AS STRING), CAST(0 AS STRING)) FROM t")
    assert(rewrite("SELECT WEEK(d) FROM t") == "SELECT weekofyear(d) FROM t")
    assert(rewrite("SELECT TIME(dt) FROM t") == "SELECT date_format(dt, 'HH:mm:ss') FROM t")
    // TIMEDIFF/TIME_TO_SEC/SEC_TO_TIME are not eaten by the TIME( rule
    assert(rewrite("SELECT TIMEDIFF(a, b) FROM t") == "SELECT (a - b) FROM t")
    assert(rewrite("SELECT SEC_TO_TIME(90) FROM t") ==
      "SELECT make_dt_interval(0, 0, 0, CAST(90 AS DOUBLE)) FROM t")
    assert(rewrite("SELECT JSON_DEPTH(j) FROM t") == "SELECT CAST(NULL AS INT) FROM t")
    assert(rewrite("SELECT JSON_CONTAINS_PATH(j, 'one', '$.a', '$.b') FROM t")
      .contains("get_json_object(j, '$.a') IS NOT NULL OR get_json_object(j, '$.b') IS NOT NULL"))
    assert(rewrite("SELECT DATE_ADD(d, INTERVAL 1 DAY) FROM t") ==
      "SELECT (d + INTERVAL 1 DAY) FROM t")
    assert(rewrite("SELECT DATE_ADD(d, 5) FROM t") == "SELECT date_add(d, 5) FROM t")
  }

  test("ELT / FIELD / FORMAT rewrites") {
    assert(rewrite("SELECT ELT(2, 'a', 'b', 'c') FROM t") ==
      "SELECT element_at(array('a', 'b', 'c'), CAST(2 AS INT)) FROM t")
    assert(rewrite("SELECT FIELD(x, 'a', 'b') FROM t") ==
      "SELECT CAST(array_position(array('a', 'b'), x) AS BIGINT) FROM t")
    assert(rewrite("SELECT FORMAT(x, 2) FROM t") == "SELECT format_number(x, 2) FROM t")
  }

  test("splitTopLevelCommas respects nesting") {
    assert(SqlRewriter.splitTopLevelCommas("a, f(b, c), d") == List("a", "f(b, c)", "d"))
  }

  test("JSON mutator rewrites fold multi-pair calls") {
    assert(rewrite("SELECT JSON_SET(j, '$.a', 1, '$.b', 2) FROM t") ==
      "SELECT graft_json_set(graft_json_set(j, '$.a', 1), '$.b', 2) FROM t")
    assert(rewrite("SELECT JSON_REMOVE(j, '$.a', '$.b') FROM t") ==
      "SELECT graft_json_remove(graft_json_remove(j, '$.a'), '$.b') FROM t")
    assert(rewrite("SELECT JSON_MERGE_PATCH(a, b, c) FROM t") ==
      "SELECT graft_json_merge_patch(graft_json_merge_patch(a, b), c) FROM t")
    assert(rewrite("SELECT JSON_MERGE(a, b) FROM t") ==
      "SELECT graft_json_merge_preserve(a, b) FROM t")
    assert(rewrite("SELECT JSON_INSERT(j, '$.a', 'v') FROM t") ==
      "SELECT graft_json_insert(j, '$.a', 'v') FROM t")
    assert(rewrite("SELECT JSON_ARRAY_APPEND(j, '$.a', 9) FROM t") ==
      "SELECT graft_json_array_append(j, '$.a', 9) FROM t")
  }

  test("nested same-function calls are rewritten (ADVICE r1)") {
    assert(rewrite("SELECT JSON_EXTRACT(JSON_EXTRACT(j, '$.a'), '$.b') FROM t") ==
      "SELECT get_json_object(get_json_object(j, '$.a'), '$.b') FROM t")
    assert(rewrite(
      "SELECT JSON_EXTRACT(JSON_EXTRACT(JSON_EXTRACT(j, '$.a'), '$.b'), '$.c') FROM t") ==
      "SELECT get_json_object(get_json_object(get_json_object(j, '$.a'), '$.b'), '$.c') FROM t")
    // same-function nesting where the transform unwraps its argument
    assert(rewrite("SELECT JSON_UNQUOTE(JSON_UNQUOTE(JSON_EXTRACT(j, '$.a'))) FROM t") ==
      "SELECT get_json_object(j, '$.a') FROM t")
  }

  test("JSON_CONTAINS_PATH resolves the masked mode literal ('all' → AND)") {
    val all = rewrite("SELECT JSON_CONTAINS_PATH(j, 'all', '$.a', '$.b') FROM t")
    assert(all.contains(" AND "), all)
    val one = rewrite("SELECT JSON_CONTAINS_PATH(j, 'one', '$.a', '$.b') FROM t")
    assert(one.contains(" OR ") && !one.contains(" AND "), one)
  }

  test("GROUP_CONCAT multi-key ORDER BY: same-direction structs, mixed drops ordering") {
    val multi = rewrite("SELECT GROUP_CONCAT(x ORDER BY a, b) FROM t")
    assert(multi.contains("struct(a AS k0, b AS k1, x AS v)"), multi)
    // mixed directions cannot ride one sort+reverse — ordering drops
    // (the reference's own behavior), never emits unparseable struct SQL
    val mixed = rewrite("SELECT GROUP_CONCAT(x ORDER BY a DESC, b ASC) FROM t")
    assert(!mixed.contains("DESC") && mixed.contains("array_sort(collect_list(x))"),
      mixed)
  }

  test("DATE_FORMAT with an expression fmt translates literals IN PLACE") {
    val r = rewrite("SELECT DATE_FORMAT(d, CONCAT('%Y', '-%m')) FROM t")
    assert(r.contains("date_format(d, CONCAT('yyyy', '-MM'))"), r)
  }

  test("backtick identifiers are masked: keywords/apostrophes inside never rewrite") {
    assert(rewrite("SELECT `regexp` FROM t") == "SELECT `regexp` FROM t")
    val r = rewrite("SELECT `it's`, DATE_FORMAT(d, '%Y') FROM t")
    assert(r == "SELECT `it's`, date_format(d, 'yyyy') FROM t", r)
    // db-prefix strip still fires on quoted qualified tables
    assert(rewrite("SELECT a FROM `mydb`.`orders`") == "SELECT a FROM `orders`")
  }
}
