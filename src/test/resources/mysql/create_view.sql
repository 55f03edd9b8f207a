-- View fixtures for the MySQL -> Spark/PostgreSQL rewriter.
-- Each view selects over LEFT JOINs of the case_* fixture tables, aliases
-- tables and columns with MySQL reserved words, and carries string
-- literals that hold quotes, commas, parens and SQL keywords. Statements
-- end with ';' at the end of a line.

CREATE OR REPLACE VIEW `v_01_integer_math` AS
SELECT i.`id` AS `key`,
  ABS(i.col_int) AS `abs`,
  MOD(i.col_big, 7) AS `mod`,
  POWER(i.col_small, 2) AS `power`,
  ROUND(i.col_int / 3, 2) AS `round`,
  CEIL(f.col_double) AS `ceil`,
  FLOOR(f.col_double) AS `floor`,
  GREATEST(i.col_tiny, i.col_small, 0) AS `greatest`,
  LEAST(i.col_tiny, i.col_small, 0) AS `least`,
  CAST(f.col_decimal AS SIGNED) AS `signed`,
  'it''s (a), b' AS `note`
FROM case_01_integers AS i
LEFT JOIN case_03_floats AS f ON f.id = i.id
LEFT JOIN case_02_boolean AS `order` ON `order`.id = i.id
WHERE i.col_int > 0;

CREATE OR REPLACE VIEW `v_02_float_math` AS
SELECT f.id AS `rank`,
  SQRT(ABS(f.col_double)) AS `sqrt`,
  SIN(f.col_float) AS `sin`,
  COS(f.col_float) AS `cos`,
  TAN(f.col_float) AS `tan`,
  LOG(1 + ABS(f.col_real)) AS `log`,
  EXP(LEAST(f.col_real, 10)) AS `exp`,
  CASE WHEN f.col_numeric > 100 THEN 'big, (really)'
       WHEN f.col_numeric > 10 THEN "mid ""size"""
       ELSE 'SELECT small FROM here' END AS `size`
FROM case_03_floats AS f
LEFT JOIN case_01_integers AS `select` ON `select`.id = f.id;

CREATE OR REPLACE VIEW `v_03_strings` AS
SELECT s.id AS `system`,
  LENGTH(s.name) AS `length`,
  UPPER(s.name) AS `upper`,
  LOWER(s.name) AS `lower`,
  REVERSE(s.name) AS `reverse`,
  TRIM(s.name) AS `trim`,
  LEFT(s.name, 3) AS `left`,
  RIGHT(s.name, 3) AS `right`,
  CONCAT(s.name, ' (', s.code, ')') AS `concat`
FROM case_04_charset AS s
LEFT JOIN case_05_collation AS `groups` ON `groups`.id = s.id;

CREATE OR REPLACE VIEW `v_04_substrings` AS
SELECT s.id AS `window`,
  SUBSTRING(s.name, 2, 4) AS `substring`,
  MID(s.name, 2, 3) AS `mid`,
  INSTR(s.name, ',') AS `instr`,
  REPLACE(s.name, 'a, b', 'c (d)') AS `replace`,
  SUBSTRING_INDEX(s.email, '@', -1) AS `domain`,
  HEX(s.name) AS `hex`
FROM case_06_text AS s
LEFT JOIN case_07_varchar AS `from` ON `from`.id = s.id;

CREATE OR REPLACE VIEW `v_05_nulls` AS
SELECT n.id AS `desc`,
  IFNULL(n.note, 'none, really') AS `ifnull`,
  COALESCE(n.note, n.alt, 'LIMIT 5, 10') AS `coalesce`,
  CONCAT_WS(', ', n.first_name, n.last_name) AS `full_name`,
  CASE n.status WHEN 1 THEN 'on' WHEN 0 THEN 'off' ELSE 'it''s unknown' END AS `status`
FROM case_10_defaults AS n
LEFT JOIN case_11_autoincrement AS `key` ON `key`.id = n.id;

CREATE OR REPLACE VIEW `v_06_json` AS
SELECT j.id AS `values`,
  JSON_EXTRACT(j.doc, '$.city') AS `city_json`,
  JSON_UNQUOTE(JSON_EXTRACT(j.doc, '$.name')) AS `name`,
  JSON_KEYS(j.doc) AS `keys`,
  JSON_LENGTH(j.doc) AS `length`
FROM case_28_functional_index AS j
LEFT JOIN case_01_integers AS `table` ON `table`.id = j.id;

CREATE OR REPLACE VIEW `v_07_dates` AS
SELECT d.id AS `date`,
  DATE_FORMAT(d.dt1, '%Y-%m-%d %H:%i:%S') AS `iso`,
  DATE_FORMAT(d.d1, '%d/%m/%Y') AS `euro`,
  DATEDIFF(d.dt1, d.d1) AS `datediff`,
  CONCAT('day (', DATE_FORMAT(d.d1, '%j'), ')') AS `day_of_year`
FROM case_09_datetime AS d
LEFT JOIN case_29_defaults AS `time` ON `time`.id = d.id;

CREATE OR REPLACE VIEW `v_08_reserved_joins` AS
SELECT r.`rank`, r.`system`, r.`groups`, r.`window`,
  IFNULL(b.is_active, 0) AS `active`,
  COALESCE(c.`key`, 'no key (yet)') AS `key_or_note`
FROM case_25_mysql8_reserved AS r
LEFT JOIN case_02_boolean AS b ON b.id = r.id
LEFT JOIN case_41_foreign_key AS c ON c.id = r.id
LEFT JOIN case_44_composite_pk AS `primary` ON `primary`.a = r.id;

CREATE OR REPLACE VIEW `v_09_checks` AS
SELECT c.id AS `check`,
  CASE WHEN c.age > 18 THEN "adult, ""grown""" ELSE 'minor (under 18)' END AS `bracket`,
  GREATEST(c.age, 18) - LEAST(c.age, 150) AS `span`,
  ROUND(SQRT(c.age), 1) AS `root`
FROM case_27_mysql8_check AS c
LEFT JOIN case_20_primary_key AS `where` ON `where`.id = c.id;

CREATE OR REPLACE VIEW `v_10_generated` AS
SELECT g.id AS `order`,
  g.price * g.quantity AS `subtotal`,
  ROUND(g.total, 2) AS `total`,
  CAST(FLOOR(g.total) AS SIGNED) AS `whole`,
  CONCAT('total: ', g.total, ' (incl. discount, WHERE applied)') AS `label`
FROM case_59_generated_nested AS g
LEFT JOIN case_21_generated AS `group` ON `group`.c1 = g.id;

CREATE OR REPLACE VIEW `v_11_enum_set` AS
SELECT e.id AS `set`,
  UPPER(e.e1) AS `enum_upper`,
  LENGTH(e.s1) - LENGTH(REPLACE(e.s1, ',', '')) + 1 AS `members`,
  SUBSTRING_INDEX(e.s1, ',', 1) AS `first_member`,
  HEX(e.e1) AS `hex`
FROM case_13_enum_set AS e
LEFT JOIN case_35_enum_charset AS `union` ON `union`.id = e.id;

CREATE OR REPLACE VIEW `v_12_summary` AS
SELECT i.id AS `all`,
  CONCAT_WS(' | ', UPPER(s.name), LOWER(s.code), REVERSE(s.name)) AS `mix`,
  IFNULL(JSON_UNQUOTE(JSON_EXTRACT(j.doc, '$.tag')), 'n/a') AS `tag`,
  ABS(MOD(i.col_int, 10)) AS `digit`,
  DATE_FORMAT(d.dt1, '%Y') AS `year`,
  'a ''quoted'', (parenthesized) AND keyword-laden OR text' AS `literal`
FROM case_01_integers AS i
LEFT JOIN case_04_charset AS s ON s.id = i.id
LEFT JOIN case_28_functional_index AS j ON j.id = i.id
LEFT JOIN case_09_datetime AS d ON d.id = i.id
LEFT JOIN case_25_mysql8_reserved AS `limit` ON `limit`.id = i.id;
