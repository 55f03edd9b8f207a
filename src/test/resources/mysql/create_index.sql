-- Index fixtures: plain, unique, composite and prefix-length indexes on the
-- case_* fixture tables.

CREATE INDEX idx_int_col ON case_01_integers (col_int);
CREATE INDEX idx_int_big_small ON case_01_integers (col_big, col_small);
CREATE UNIQUE INDEX uq_int_id ON case_01_integers (id);
CREATE INDEX idx_bool_active ON case_02_boolean (is_active);
CREATE INDEX idx_float_dec ON case_03_floats (col_decimal);
CREATE UNIQUE INDEX uq_float_num_real ON case_03_floats (col_numeric, col_real);
CREATE INDEX idx_charset_name ON case_04_charset (name(10));
CREATE INDEX idx_charset_name_code ON case_04_charset (name(10), code);
CREATE INDEX idx_collation_title ON case_05_collation (title(20));
CREATE INDEX idx_text_body ON case_06_text (body(32));
CREATE UNIQUE INDEX uq_varchar_email ON case_07_varchar (email);
CREATE INDEX idx_datetime_d1 ON case_09_datetime (d1);
CREATE INDEX idx_datetime_dt1_ts1 ON case_09_datetime (dt1, ts1);
CREATE INDEX idx_defaults_status ON case_10_defaults (status);
CREATE UNIQUE INDEX uq_auto_name ON case_11_autoincrement (name);
CREATE INDEX idx_enum_e1 ON case_13_enum_set (e1);
CREATE INDEX idx_enum_e1_s1 ON case_13_enum_set (e1, s1);
CREATE INDEX idx_pk_name ON case_20_primary_key (name(16));
CREATE INDEX `idx_reserved_rank` ON `case_25_mysql8_reserved` (`rank`);
CREATE UNIQUE INDEX `uq_reserved_system_window` ON `case_25_mysql8_reserved` (`system`, `window`);
CREATE INDEX idx_check_age ON case_27_mysql8_check (age);
CREATE INDEX idx_composite_b_a ON case_44_composite_pk (b, a);
CREATE UNIQUE INDEX uq_generated_total ON case_59_generated_nested (total);
CREATE INDEX idx_a_very_long_index_name_that_runs_past_the_postgres_identifier_limit ON case_61_many_columns (col_int, col_varchar(8));
