-- Table fixtures for the MySQL -> Spark/PostgreSQL DDL converter.
-- 63 case_NN tables, one conversion feature each; the views, functions,
-- grants and indexes in this directory read them. Statements end with ';'
-- at the end of a line, and comments sit on lines of their own.
--
-- case_01 integer widths            case_33 unique keys
-- case_02 tinyint(1) boolean        case_34 NOT NULL with defaults
-- case_03 float/decimal precision   case_35 enum with charset
-- case_04 column charsets           case_36 UPPERCASE identifiers
-- case_05 column collations         case_37 CamelCase identifiers
-- case_06 text family               case_38 snake_case identifiers
-- case_07 varchar lengths           case_39 mixed-case columns
-- case_08 json                      case_40 quoted mixed-case identifiers
-- case_09 temporal types            case_41 foreign keys
-- case_10 defaults                  case_42 fulltext index
-- case_11 auto_increment            case_43 spatial index
-- case_12 unsigned / zerofill       case_44 composite primary key
-- case_13 enum / set                case_45 stored generated column
-- case_14 binary family             case_46 MyISAM engine
-- case_15 table options             case_47 MEMORY engine
-- case_16 RANGE partitions          case_48 row format / compression
-- case_17 TEMPORARY table           case_49 LIST partitions
-- case_18 quoted identifiers        case_50 HASH partitions
-- case_19 comments                  case_51 CREATE TABLE ... LIKE
-- case_20 primary key               case_52 CREATE TABLE ... AS SELECT
-- case_21 generated columns         case_53 ON UPDATE CURRENT_TIMESTAMP
-- case_22 spatial types             case_54 char / national types
-- case_23 odd but valid syntax      case_55 bit types
-- case_24 bigint unsigned serial    case_56 blob family
-- case_25 MySQL 8 reserved words    case_57 year / time precision
-- case_26 INVISIBLE columns         case_58 subpartitions
-- case_27 CHECK constraints         case_59 nested generated expression
-- case_28 functional index          case_60 IF NOT EXISTS
-- case_29 expression defaults       case_61 55 columns of every type
-- case_30 table collations          case_62 default-value zoo
-- case_31 descending index          case_63 multilingual collations
-- case_32 prefix index

CREATE TABLE case_01_integers (
  id int NOT NULL,
  col_tiny tinyint,
  col_small smallint,
  col_medium mediumint,
  col_int int,
  col_integer integer,
  col_big bigint,
  col_int_prec int(11),
  col_big_prec bigint(20),
  PRIMARY KEY (id)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;

CREATE TABLE case_02_boolean (
  id int NOT NULL PRIMARY KEY,
  is_active tinyint(1) DEFAULT 1,
  status tinyint(4) NOT NULL DEFAULT 0,
  is_deleted TINYINT(1) NOT NULL DEFAULT 0
) ENGINE=InnoDB;

CREATE TABLE case_03_floats (
  id int NOT NULL PRIMARY KEY,
  col_float float,
  col_float_ps float(10,2),
  col_double double,
  col_decimal decimal(10,2),
  col_numeric numeric(10,2),
  col_real real
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;

CREATE TABLE case_04_charset (
  id int NOT NULL PRIMARY KEY,
  name varchar(100) CHARACTER SET utf8mb4 NOT NULL,
  code char(8) CHARACTER SET latin1 DEFAULT 'none',
  title varchar(200) CHARSET utf8
) ENGINE=InnoDB DEFAULT CHARSET=latin1;

CREATE TABLE case_05_collation (
  id int NOT NULL PRIMARY KEY,
  title varchar(100) COLLATE utf8mb4_unicode_ci,
  slug varchar(100) CHARACTER SET utf8mb4 COLLATE utf8mb4_bin NOT NULL,
  note text COLLATE utf8mb4_general_ci
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci;

CREATE TABLE case_06_text (
  id int NOT NULL PRIMARY KEY,
  name varchar(64),
  email varchar(120),
  body text,
  summary tinytext,
  article mediumtext,
  archive longtext
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;

CREATE TABLE case_07_varchar (
  id int NOT NULL PRIMARY KEY,
  code varchar(1),
  email varchar(255) NOT NULL,
  url varchar(2048),
  word varchar(16383)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;

CREATE TABLE case_08_json (
  id int NOT NULL PRIMARY KEY,
  doc json,
  tags json NOT NULL,
  settings JSON DEFAULT NULL
) ENGINE=InnoDB;

CREATE TABLE case_09_datetime (
  id int NOT NULL PRIMARY KEY,
  d1 date,
  t1 time,
  t2 time(6),
  dt1 datetime,
  dt2 datetime(3),
  ts1 timestamp NULL DEFAULT NULL,
  ts2 timestamp(6) NULL,
  y1 year
) ENGINE=InnoDB;

CREATE TABLE case_10_defaults (
  id int NOT NULL PRIMARY KEY,
  note varchar(100) DEFAULT NULL,
  alt varchar(100) DEFAULT 'n/a',
  first_name varchar(50) NOT NULL DEFAULT '',
  last_name varchar(50) NOT NULL DEFAULT 'O''Brien',
  status int NOT NULL DEFAULT 1,
  ratio decimal(5,2) DEFAULT 0.50,
  created datetime DEFAULT CURRENT_TIMESTAMP,
  born date DEFAULT '0000-00-00'
) ENGINE=InnoDB;

CREATE TABLE case_11_autoincrement (
  id int AUTO_INCREMENT PRIMARY KEY,
  name varchar(50) NOT NULL
) ENGINE=InnoDB AUTO_INCREMENT=1000;

CREATE TABLE case_12_unsigned (
  id int unsigned NOT NULL PRIMARY KEY,
  u_tiny tinyint unsigned,
  u_small smallint unsigned,
  u_int int(10) unsigned zerofill,
  u_big bigint unsigned,
  u_dec decimal(10,2) unsigned
) ENGINE=InnoDB;

CREATE TABLE case_13_enum_set (
  id int NOT NULL PRIMARY KEY,
  e1 enum('a','b','c') DEFAULT 'a',
  s1 set('x','y','z'),
  mood ENUM('happy','sad','it''s complicated') NOT NULL
) ENGINE=InnoDB;

CREATE TABLE case_14_binary (
  id int NOT NULL PRIMARY KEY,
  b1 binary(16),
  vb1 varbinary(255),
  bl blob,
  tbl tinyblob,
  mbl mediumblob,
  lbl longblob
) ENGINE=InnoDB;

CREATE TABLE case_15_table_options (
  id int NOT NULL PRIMARY KEY,
  payload varchar(200)
) ENGINE=InnoDB AUTO_INCREMENT=42 DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_0900_ai_ci ROW_FORMAT=DYNAMIC STATS_PERSISTENT=1 COMMENT='options everywhere';

CREATE TABLE case_16_partition_range (
  id int NOT NULL,
  created date NOT NULL,
  amount decimal(10,2),
  PRIMARY KEY (id, created)
) ENGINE=InnoDB
PARTITION BY RANGE (YEAR(created)) (
  PARTITION p2019 VALUES LESS THAN (2020),
  PARTITION p2020 VALUES LESS THAN (2021),
  PARTITION pmax VALUES LESS THAN MAXVALUE
);

CREATE TEMPORARY TABLE case_17_temporary (
  id int NOT NULL,
  scratch varchar(40)
) ENGINE=InnoDB;

CREATE TABLE `case_18_quoted` (
  `id` int NOT NULL,
  `first name` varchar(40),
  `dash-col` int,
  `dotted.col` varchar(10),
  `tick``mark` int,
  PRIMARY KEY (`id`)
) ENGINE=InnoDB;

CREATE TABLE case_19_comments (
  id int NOT NULL PRIMARY KEY COMMENT 'row id',
  c1 int COMMENT 'Simple comment',
  c2 varchar(20) COMMENT 'has DEFAULT 0 and PRIMARY KEY words',
  c3 int COMMENT 'Comment with '' quote'
) ENGINE=InnoDB COMMENT='Table comment';

CREATE TABLE case_20_primary_key (
  id int NOT NULL,
  name varchar(64) NOT NULL,
  CONSTRAINT pk_case_20 PRIMARY KEY (id)
) ENGINE=InnoDB;

CREATE TABLE case_21_generated (
  c1 int,
  c2 int GENERATED ALWAYS AS (c1 * 2) STORED,
  c3 int GENERATED ALWAYS AS (c1 + c2) VIRTUAL,
  c4 varchar(20) AS (concat('n', c1))
) ENGINE=InnoDB;

CREATE TABLE case_22_spatial (
  id int NOT NULL PRIMARY KEY,
  g geometry,
  p point NOT NULL,
  ls linestring,
  poly polygon,
  mp multipoint,
  mls multilinestring,
  mpoly multipolygon,
  gc geometrycollection
) ENGINE=InnoDB;

CREATE TABLE IF NOT EXISTS `test_db`.`case_23_weird_syntax` (
  `id`   INT(11)   NOT NULL   AUTO_INCREMENT ,
  `Value` VARCHAR( 20 )   DEFAULT   'x' ,
  # a hash comment inside the body
  `n` DOUBLE PRECISION /* inline block comment */ NULL,
  -- a dash comment inside the body
  `v` CHARACTER VARYING(30),
  PRIMARY KEY ( `id` )
) ENGINE = InnoDB /*!50100 DEFAULT CHARSET = utf8mb4 */;

CREATE TABLE case_24_bigint_serial (
  c4 bigint unsigned NOT NULL AUTO_INCREMENT PRIMARY KEY,
  c5 smallint unsigned AUTO_INCREMENT,
  note varchar(20)
) ENGINE=InnoDB;

CREATE TABLE case_25_mysql8_reserved (
  id int NOT NULL PRIMARY KEY,
  `rank` int,
  `system` varchar(10),
  `groups` text,
  `window` varchar(20),
  `lead` int,
  `lag` int,
  `row_number` int,
  `cume_dist` double,
  `of` varchar(5)
) ENGINE=InnoDB;

CREATE TABLE case_26_invisible (
  id int NOT NULL PRIMARY KEY,
  visible_col varchar(20),
  hidden_col int INVISIBLE,
  note varchar(40) COMMENT 'marks INVISIBLE rows'
) ENGINE=InnoDB;

CREATE TABLE case_27_mysql8_check (
  id int NOT NULL PRIMARY KEY,
  age int NOT NULL,
  email varchar(120),
  CONSTRAINT chk_age CHECK (age > 18) ENFORCED,
  CHECK (age < 150) NOT ENFORCED,
  CHECK (age < 150),
  CONSTRAINT chk_email CHECK (email LIKE '%@%')
) ENGINE=InnoDB;

CREATE TABLE case_28_functional_index (
  id int NOT NULL PRIMARY KEY,
  doc json,
  city varchar(50) AS (json_unquote(json_extract(doc, '$.city'))) VIRTUAL,
  INDEX idx_city ((CAST(doc->>'$.city' AS CHAR(50)))),
  KEY idx_lower_city ((lower(city)))
) ENGINE=InnoDB;

CREATE TABLE case_29_defaults (
  id int NOT NULL PRIMARY KEY,
  uid char(36) DEFAULT (UUID()),
  created timestamp DEFAULT CURRENT_TIMESTAMP,
  updated datetime(3) DEFAULT CURRENT_TIMESTAMP(3),
  score double DEFAULT (RAND() * 100),
  day date DEFAULT (CURRENT_DATE)
) ENGINE=InnoDB;

CREATE TABLE case_30_collations (
  id int NOT NULL PRIMARY KEY,
  a varchar(20) COLLATE utf8mb4_bin,
  b varchar(20) COLLATE latin1_swedish_ci,
  c varchar(20) CHARACTER SET ascii COLLATE ascii_general_ci
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_0900_as_cs;

CREATE TABLE case_31_desc_index (
  id int NOT NULL PRIMARY KEY,
  created datetime,
  score int,
  KEY idx_created_desc (created DESC),
  KEY idx_score_mixed (score DESC, id ASC)
) ENGINE=InnoDB;

CREATE TABLE case_32_prefix_index (
  id int NOT NULL,
  title varchar(255),
  body text,
  PRIMARY KEY (id),
  KEY idx_title (title(10)),
  KEY idx_title_body (title(20), body(40))
) ENGINE=InnoDB;

CREATE TABLE case_33_unique_keys (
  id int NOT NULL PRIMARY KEY,
  email varchar(120) NOT NULL UNIQUE,
  handle varchar(40),
  tenant int,
  UNIQUE KEY uq_handle (handle),
  UNIQUE INDEX uq_tenant_handle (tenant, handle)
) ENGINE=InnoDB;

CREATE TABLE case_34_not_null_defaults (
  id int NOT NULL PRIMARY KEY,
  qty int NOT NULL DEFAULT 0,
  price decimal(8,2) NOT NULL DEFAULT '0.00',
  label varchar(20) NOT NULL DEFAULT 'none',
  flag tinyint(1) NOT NULL DEFAULT '1'
) ENGINE=InnoDB;

CREATE TABLE case_35_enum_charset (
  id int NOT NULL PRIMARY KEY,
  color enum('red','green','blue') CHARACTER SET utf8mb4 COLLATE utf8mb4_bin DEFAULT 'red',
  sizes set('s','m','l') CHARACTER SET latin1
) ENGINE=InnoDB;

CREATE TABLE CASE_36_UPPERCASE (
  ID INT NOT NULL PRIMARY KEY,
  FULL_NAME VARCHAR(80),
  CREATED_AT DATETIME
) ENGINE=InnoDB;

CREATE TABLE Case_37_CamelCase (
  UserId int NOT NULL PRIMARY KEY,
  FirstName varchar(40),
  LastLoginAt datetime
) ENGINE=InnoDB;

CREATE TABLE case_38_snake_case (
  user_id int NOT NULL PRIMARY KEY,
  first_name varchar(40),
  last_login_at datetime
) ENGINE=InnoDB;

CREATE TABLE case_39_mixed_columns (
  id int NOT NULL PRIMARY KEY,
  userName varchar(40),
  USER_EMAIL varchar(120),
  Phone_Number varchar(20)
) ENGINE=InnoDB;

CREATE TABLE `Case_40_QuotedMixed` (
  `Id` int NOT NULL,
  `DisplayName` varchar(40),
  `ORDER` int,
  PRIMARY KEY (`Id`)
) ENGINE=InnoDB;

CREATE TABLE case_41_foreign_key (
  id int NOT NULL PRIMARY KEY,
  `key` varchar(20),
  parent_id int,
  owner_id int,
  KEY idx_parent (parent_id),
  CONSTRAINT fk_parent FOREIGN KEY (parent_id) REFERENCES case_20_primary_key (id)
    ON DELETE CASCADE ON UPDATE RESTRICT,
  FOREIGN KEY (owner_id) REFERENCES case_11_autoincrement (id)
) ENGINE=InnoDB;

CREATE TABLE case_42_fulltext (
  id int NOT NULL PRIMARY KEY,
  title varchar(200),
  body text,
  FULLTEXT KEY ft_title_body (title, body) WITH PARSER ngram
) ENGINE=InnoDB;

CREATE TABLE case_43_spatial_index (
  id int NOT NULL PRIMARY KEY,
  location point NOT NULL SRID 4326,
  SPATIAL INDEX sp_location (location)
) ENGINE=InnoDB;

CREATE TABLE case_44_composite_pk (
  a int NOT NULL,
  b int NOT NULL,
  c varchar(20),
  PRIMARY KEY (a, b)
) ENGINE=InnoDB;

CREATE TABLE case_45_stored_generated (
  id int NOT NULL PRIMARY KEY,
  price decimal(10,2) NOT NULL,
  quantity int NOT NULL,
  subtotal decimal(12,2) GENERATED ALWAYS AS (price * quantity) STORED,
  tax decimal(12,2) AS (subtotal * 0.08) STORED
) ENGINE=InnoDB;

CREATE TABLE case_46_myisam (
  id int NOT NULL AUTO_INCREMENT,
  msg varchar(200),
  PRIMARY KEY (id)
) ENGINE=MyISAM DEFAULT CHARSET=latin1 PACK_KEYS=1 CHECKSUM=1 DELAY_KEY_WRITE=1;

CREATE TABLE case_47_memory (
  id int NOT NULL PRIMARY KEY,
  k varchar(32),
  KEY idx_k USING HASH (k)
) ENGINE=MEMORY MAX_ROWS=1000;

CREATE TABLE case_48_row_format (
  id int NOT NULL PRIMARY KEY,
  blob_col blob
) ENGINE=InnoDB ROW_FORMAT=COMPRESSED KEY_BLOCK_SIZE=8 COMPRESSION='zlib';

CREATE TABLE case_49_partition_list (
  id int NOT NULL,
  region_code int NOT NULL,
  amount decimal(10,2)
) ENGINE=InnoDB
PARTITION BY LIST (region_code) (
  PARTITION p_north VALUES IN (1, 2, 3),
  PARTITION p_south VALUES IN (4, 5, 6)
);

CREATE TABLE case_50_partition_hash (
  id int NOT NULL,
  user_id int NOT NULL,
  payload varchar(100)
) ENGINE=InnoDB
PARTITION BY HASH (user_id)
PARTITIONS 8;

CREATE TABLE case_51_like LIKE case_01_integers;

CREATE TABLE case_52_as_select AS SELECT id, col_int FROM case_01_integers WHERE col_int > 0;

CREATE TABLE case_53_on_update (
  id int NOT NULL PRIMARY KEY,
  created timestamp NOT NULL DEFAULT CURRENT_TIMESTAMP,
  updated timestamp NOT NULL DEFAULT CURRENT_TIMESTAMP ON UPDATE CURRENT_TIMESTAMP,
  touched datetime(6) DEFAULT CURRENT_TIMESTAMP(6) ON UPDATE CURRENT_TIMESTAMP(6)
) ENGINE=InnoDB;

CREATE TABLE case_54_char_types (
  id int NOT NULL PRIMARY KEY,
  c0 char(0),
  c1 char,
  c255 char(255),
  nc nchar(10),
  nv national varchar(30),
  cv character varying(40)
) ENGINE=InnoDB;

CREATE TABLE case_55_bit (
  id int NOT NULL PRIMARY KEY,
  flag bit,
  flag1 bit(1),
  mask bit(8) DEFAULT b'00000001',
  wide bit(64)
) ENGINE=InnoDB;

CREATE TABLE case_56_blob_family (
  id int NOT NULL PRIMARY KEY,
  tiny tinyblob,
  plain blob,
  medium mediumblob,
  large longblob,
  fixed binary(4),
  var varbinary(64)
) ENGINE=InnoDB;

CREATE TABLE case_57_time_precision (
  id int NOT NULL PRIMARY KEY,
  y year(4),
  t0 time(0),
  t3 time(3),
  dt6 datetime(6),
  ts3 timestamp(3) NULL
) ENGINE=InnoDB;

CREATE TABLE case_58_subpartition (
  id int NOT NULL,
  purchased date NOT NULL
) ENGINE=InnoDB
PARTITION BY RANGE (YEAR(purchased))
SUBPARTITION BY HASH (TO_DAYS(purchased))
SUBPARTITIONS 2 (
  PARTITION p0 VALUES LESS THAN (1990),
  PARTITION p1 VALUES LESS THAN (2000),
  PARTITION p2 VALUES LESS THAN MAXVALUE
);

CREATE TABLE case_59_generated_nested (
  id int NOT NULL PRIMARY KEY,
  price decimal(10,2) NOT NULL,
  quantity int NOT NULL,
  discount decimal(5,2) DEFAULT 0.00,
  subtotal decimal(12,2) GENERATED ALWAYS AS (price * quantity) STORED,
  total decimal(12,2) GENERATED ALWAYS AS ((price * quantity) * (1 - discount / 100)) STORED
) ENGINE=InnoDB;

CREATE TABLE IF NOT EXISTS case_60_if_not_exists (
  id int NOT NULL PRIMARY KEY,
  val varchar(10)
);

CREATE TABLE case_61_many_columns (
  id bigint NOT NULL AUTO_INCREMENT,
  col_tinyint tinyint DEFAULT -128,
  col_tinyint_u tinyint unsigned DEFAULT 255,
  col_bool tinyint(1) DEFAULT 0,
  col_smallint smallint DEFAULT -32768,
  col_smallint_u smallint unsigned DEFAULT 65535,
  col_mediumint mediumint DEFAULT -8388608,
  col_mediumint_u mediumint unsigned DEFAULT 16777215,
  col_int int DEFAULT -2147483648,
  col_int_u int unsigned DEFAULT 4294967295,
  col_bigint bigint DEFAULT -9223372036854775808,
  col_bigint_u bigint unsigned DEFAULT 18446744073709551615,
  col_decimal decimal(65,30),
  col_decimal_small decimal(5,2) DEFAULT 999.99,
  col_numeric numeric(20,6),
  col_float float DEFAULT 3.4e38,
  col_float_ps float(7,4),
  col_double double DEFAULT -1.7e308,
  col_double_ps double(16,8),
  col_real real,
  col_bit bit(1),
  col_bit64 bit(64),
  col_date date DEFAULT '1000-01-01',
  col_datetime datetime DEFAULT '9999-12-31 23:59:59',
  col_datetime6 datetime(6),
  col_timestamp timestamp NULL DEFAULT '1970-01-01 00:00:01',
  col_timestamp3 timestamp(3) NULL,
  col_time time DEFAULT '-838:59:59',
  col_time6 time(6),
  col_year year DEFAULT 2155,
  col_char char(1) DEFAULT 'x',
  col_char255 char(255),
  col_varchar varchar(255) DEFAULT '',
  col_varchar_long varchar(4000),
  col_tinytext tinytext,
  col_text text,
  col_mediumtext mediumtext,
  col_longtext longtext,
  col_binary binary(8),
  col_varbinary varbinary(64),
  col_tinyblob tinyblob,
  col_blob blob,
  col_mediumblob mediumblob,
  col_longblob longblob,
  col_enum enum('min','mid','max') DEFAULT 'min',
  col_set set('r','w','x') DEFAULT 'r,w',
  col_json json,
  col_geometry geometry,
  col_point point,
  col_linestring linestring,
  col_polygon polygon,
  col_int_zerofill int(8) unsigned zerofill,
  col_double_precision double precision,
  col_boolean boolean DEFAULT TRUE,
  col_char_varying character varying(12),
  PRIMARY KEY (id)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COMMENT='every type at its bounds';

CREATE TABLE case_62_defaults_zoo (
  id int NOT NULL PRIMARY KEY,
  d_null varchar(10) DEFAULT NULL,
  d_int int DEFAULT '42',
  d_neg int DEFAULT -1,
  d_float double DEFAULT 1.5e3,
  d_str varchar(40) DEFAULT 'comma, paren ( and quote '' inside',
  d_empty varchar(10) DEFAULT '',
  d_zero_date date DEFAULT '0000-00-00',
  d_zero_dt datetime DEFAULT '0000-00-00 00:00:00',
  d_now datetime DEFAULT NOW(),
  d_bool tinyint(1) DEFAULT FALSE,
  d_uuid varchar(36) DEFAULT (uuid()),
  d_expr int DEFAULT (1 + 2)
) ENGINE=InnoDB;

CREATE TABLE case_63_multilingual (
  id int NOT NULL PRIMARY KEY,
  zh varchar(100) CHARACTER SET utf8mb4 COLLATE utf8mb4_zh_0900_as_cs COMMENT '中文名称',
  ja varchar(100) COLLATE utf8mb4_ja_0900_as_cs,
  de varchar(100) COLLATE utf8mb4_de_pb_0900_ai_ci,
  ru varchar(100) CHARACTER SET cp1251 COLLATE cp1251_general_ci,
  emoji varchar(20) CHARACTER SET utf8mb4 COLLATE utf8mb4_0900_ai_ci DEFAULT '😀'
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COMMENT='多语言 table';
