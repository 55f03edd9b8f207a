-- Account fixtures: two users with table-level, schema-level and global
-- grants, including ALL PRIVILEGES for each.

CREATE USER IF NOT EXISTS 'test1'@'%' IDENTIFIED BY 'test1-secret';
CREATE USER IF NOT EXISTS 'test2'@'localhost' IDENTIFIED BY 'test2-secret';

GRANT SELECT ON fixtures.case_01_integers TO 'test1'@'%';
GRANT SELECT, INSERT ON fixtures.case_03_floats TO 'test1'@'%';
GRANT UPDATE, DELETE ON fixtures.case_09_datetime TO 'test1'@'%';
GRANT ALL PRIVILEGES ON fixtures.* TO 'test1'@'%';
GRANT SELECT ON fixtures.* TO 'test2'@'localhost';
GRANT INSERT, UPDATE ON fixtures.case_25_mysql8_reserved TO 'test2'@'localhost';
GRANT DELETE ON fixtures.case_27_mysql8_check TO 'test2'@'localhost';
GRANT ALL PRIVILEGES ON fixtures.case_44_composite_pk TO 'test2'@'localhost';
GRANT SELECT ON *.* TO 'test2'@'localhost';

FLUSH PRIVILEGES;
