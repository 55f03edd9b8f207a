-- Stored-function fixtures: three READS SQL DATA functions over joins of
-- the case_* fixture tables, with MySQL 5.7/8.0 reserved words as column
-- names, written the way mysqldump writes them (DELIMITER blocks).

DELIMITER //

CREATE FUNCTION get_combined_data(p_id INT, p_kind VARCHAR(20))
RETURNS VARCHAR(255)
READS SQL DATA
BEGIN
  DECLARE result VARCHAR(255);
  SELECT CONCAT_WS('|', r.`rank`, COALESCE(b.is_active, 'n/a'), r.`groups`)
    INTO result
    FROM case_25_mysql8_reserved r
    LEFT JOIN case_02_boolean b ON b.id = r.id
    LEFT JOIN case_01_integers i ON i.id = r.id
    WHERE r.id = p_id AND r.`window` = p_kind
    ORDER BY r.`rank` DESC, i.col_int
    LIMIT 1;
  RETURN result;
END //

CREATE FUNCTION get_detailed_data(p_id INT)
RETURNS VARCHAR(255)
READS SQL DATA
BEGIN
  DECLARE result VARCHAR(255);
  SELECT CONCAT(s.name, ' (', COALESCE(t.note, 'none, yet'), ')')
    INTO result
    FROM case_04_charset s
    LEFT JOIN case_06_text t ON t.id = s.id
    LEFT JOIN case_07_varchar v ON v.id = s.id
    LEFT JOIN case_10_defaults d ON d.id = s.id
    LEFT JOIN case_13_enum_set e ON e.id = s.id
    WHERE s.id = p_id;
  RETURN result;
END //

CREATE FUNCTION get_joined_data(p_left INT, p_right INT)
RETURNS VARCHAR(255)
READS SQL DATA
BEGIN
  DECLARE result VARCHAR(255);
  SELECT CONCAT(COALESCE(a.`system`, 'it''s empty'), ' / ', COALESCE(c.age, 0))
    INTO result
    FROM case_25_mysql8_reserved a
    LEFT JOIN case_27_mysql8_check c ON c.id = a.id
    LEFT JOIN case_20_primary_key k ON k.id = a.id
    WHERE a.id BETWEEN p_left AND p_right;
  RETURN result;
END //

DELIMITER ;
