package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Catalog
import graft.config.GraftConfig
import java.sql.DriverManager
import java.nio.file.Files

class CatalogConfigSpec extends AnyFunSuite {

  private lazy val url: String = {
    val db = Files.createTempDirectory("catdb").toString + "/cat"
    val u = s"jdbc:derby:$db;create=true"
    val conn = DriverManager.getConnection(u)
    val st = conn.createStatement()
    st.execute("CREATE TABLE users (id INT NOT NULL, name VARCHAR(50), age INT DEFAULT 18, PRIMARY KEY (id))")
    st.execute("CREATE TABLE orders (oid INT NOT NULL, uid INT, amount DECIMAL(10,2), PRIMARY KEY (oid))")
    st.execute("CREATE INDEX idx_uid ON orders (uid)")
    st.execute("CREATE UNIQUE INDEX uq_name ON users (name)")
    st.execute("CREATE TABLE scratch (x INT)")
    conn.close()
    u
  }

  /** Second fixture DB with SQL authorization on (Derby's gate for GRANT),
    * carrying one of each catalog object the S5-S8 scans read. */
  private lazy val authUrl: String = {
    val db = Files.createTempDirectory("catauth").toString + "/cat"
    val u = s"jdbc:derby:$db;create=true"
    var conn = DriverManager.getConnection(u)
    conn.createStatement().execute(
      "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.database.sqlAuthorization', 'TRUE')")
    conn.close()
    // the property only takes effect on reboot
    try DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
    catch { case _: Throwable => () }
    conn = DriverManager.getConnection(u)
    val st = conn.createStatement()
    st.execute("CREATE TABLE ACCOUNTS (ID INT NOT NULL PRIMARY KEY, EMAIL VARCHAR(100), SPEND DECIMAL(10,2))")
    st.execute("CREATE VIEW V_SPENDERS AS SELECT ID, EMAIL FROM ACCOUNTS WHERE SPEND > 100.00")
    st.execute("CREATE FUNCTION F_MAG(X INT) RETURNS INT LANGUAGE JAVA PARAMETER STYLE JAVA EXTERNAL NAME 'java.lang.Math.abs'")
    st.execute("GRANT SELECT ON ACCOUNTS TO ALICE")
    st.execute("GRANT UPDATE, INSERT ON ACCOUNTS TO BOB")
    conn.close()
    u
  }

  test("S5 view scan returns names with normalized SELECT bodies") {
    val views = Catalog.listViews(authUrl)
    assert(views.map(_.name) == Seq("V_SPENDERS"))
    assert(views.head.definition ==
      "SELECT ID, EMAIL FROM ACCOUNTS WHERE SPEND > 100.00")
    // full-statement and bare-SELECT storage normalize to the same body
    assert(Catalog.viewSelectBody("CREATE VIEW x AS SELECT 1") == "SELECT 1")
    assert(Catalog.viewSelectBody("create or replace view x (a, b) as select a, b from t") ==
      "select a, b from t")
    assert(Catalog.viewSelectBody("SELECT a FROM t") == "SELECT a FROM t")
  }

  test("S6 function scan reconstructs executable CREATE FUNCTION DDL") {
    val fns = Catalog.listFunctions(authUrl)
    assert(fns.map(_.name) == Seq("F_MAG"))
    val ddl = fns.head.ddl
    assert(ddl.startsWith("CREATE FUNCTION F_MAG("))
    assert(ddl.contains("RETURNS INTEGER"))
    assert(ddl.contains("EXTERNAL NAME 'java.lang.Math.abs'"))
    // the reconstruction must be executable, not just descriptive: replay
    // it on a fresh database and find the function there
    val db2 = Files.createTempDirectory("catfn2").toString + "/f"
    val u2 = s"jdbc:derby:$db2;create=true"
    DriverManager.getConnection(u2).close()
    Catalog.executeDdl(u2, ddl)
    assert(Catalog.listFunctions(u2).map(_.name) == Seq("F_MAG"))
  }

  test("S7 user scan derives grantees and per-table grant statements") {
    val users = Catalog.listUsers(authUrl)
    assert(users.map(_.name) == Seq("ALICE", "BOB"))
    assert(users.head.grants == Seq("GRANT SELECT ON ACCOUNTS TO ALICE"))
    assert(users(1).grants == Seq("GRANT INSERT,UPDATE ON ACCOUNTS TO BOB"))
  }

  test("S8 table-privilege scan groups privileges per (user, table)") {
    val privs = Catalog.listTablePrivileges(authUrl)
    assert(privs == Seq(
      Catalog.TablePrivMeta("ALICE", "ACCOUNTS", "SELECT"),
      Catalog.TablePrivMeta("BOB", "ACCOUNTS", "INSERT,UPDATE")))
  }

  test("S5-S8 degrade to empty on a catalog with no such objects") {
    assert(Catalog.listViews(url).isEmpty)
    assert(Catalog.listFunctions(url).isEmpty)
    assert(Catalog.listUsers(url).isEmpty)
    assert(Catalog.listTablePrivileges(url).isEmpty)
  }

  test("S1 table list with include/exclude filters") {
    assert(Catalog.listTables(url) == Seq("ORDERS", "SCRATCH", "USERS"))
    assert(Catalog.listTables(url, include = Seq("users", "orders")) == Seq("ORDERS", "USERS"))
    assert(Catalog.listTables(url, exclude = Seq("scratch")) == Seq("ORDERS", "USERS"))
  }

  test("S3 columns: types, nullability, defaults") {
    val cols = Catalog.tableColumns(url, "USERS")
    assert(cols.map(_.name) == Seq("ID", "NAME", "AGE"))
    assert(!cols.head.nullable && cols(1).nullable)
    assert(cols(2).default.exists(_.contains("18")))
    assert(cols(2).typeName == "INTEGER")
  }

  test("S4 indexes grouped and ordered; PK discovered") {
    assert(Catalog.primaryKeys(url, "ORDERS") == Seq("OID"))
    val idx = Catalog.tableIndexes(url, "ORDERS")
    assert(idx.exists(i => i.name == "IDX_UID" && i.columns == Seq("UID") && !i.unique))
    val uidx = Catalog.tableIndexes(url, "USERS")
    assert(uidx.exists(i => i.name == "UQ_NAME" && i.unique))
  }

  test("S2 bounded-concurrency describeAll") {
    val metas = Catalog.describeAll(url, concurrency = 4, exclude = Seq("scratch"))
    assert(metas.map(_.name) == Seq("ORDERS", "USERS"))
    assert(metas.head.columns.nonEmpty && metas.head.primaryKey == Seq("OID"))
  }

  test("S13 version probe + S11 row count + S12 size estimate") {
    assert(Catalog.version(url).startsWith("Apache Derby"))
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute("INSERT INTO scratch VALUES (1), (2), (3)")
    conn.close()
    assert(Catalog.rowCount(url, "scratch") == 3)
    val est = Catalog.estimateRowSize(Catalog.tableColumns(url, "USERS"))
    assert(est == 60) // 3 cols x 20 bytes (reference heuristic)
    assert(Catalog.suggestNumPartitions(1000000, 200) == 1)
    assert(Catalog.suggestNumPartitions(10000000000L, 200) > 1)
  }

  test("config: parse, defaults, clamping, lists") {
    val cfg = GraftConfig.parseString(
      """# migration config
        |source:
        |  url: jdbc:derby:memory:src
        |target:
        |  url: jdbc:derby:memory:dst
        |concurrency: 99
        |batch_insert_size: 500
        |truncate_before_sync: true
        |lowercase_columns: yes
        |use_table_list:
        |  - customer
        |  - orders
        |exclude_table_list: [scratch, tmp]
        |""".stripMargin)
    assert(cfg.sourceUrl == "jdbc:derby:memory:src")
    assert(cfg.targetUrl == "jdbc:derby:memory:dst")
    assert(cfg.concurrency == 50)            // clamped (README.md:85)
    assert(cfg.truncateBeforeSync && cfg.lowercaseColumns)
    assert(cfg.useTableList == Seq("customer", "orders"))
    assert(cfg.excludeTableList == Seq("scratch", "tmp"))
    assert(cfg.validateData)                 // default
    val p = cfg.toPipelineConfig
    assert(p.includeTables == Seq("customer", "orders") && p.truncateBeforeSync)
  }

  test("config: a non-integer count names its key and value") {
    val e = intercept[IllegalArgumentException](GraftConfig.parseString("concurrency: abc\n"))
    assert(e.getMessage == "config key 'concurrency' must be an integer, got 'abc'")
    // out-of-range integers still clamp rather than fail
    assert(GraftConfig.parseString("concurrency: 0\n").concurrency == 1)
  }
}
