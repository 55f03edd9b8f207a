package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.parallel.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import graft.catalog.Catalog
import graft.pipeline.{Pipeline, RunLog}
import graft.transfer.Transfer
import graft.transfer.Transfer.{Endpoint, Jdbc, ParquetDir}

/** Outcome of one operation of a pass: a table copy, a DDL object or a
  * query. `op` is stable across seeds, so known failures can be named. */
final case class Op(op: String, ok: Boolean, detail: String = "")

/** One pass: the timed wall, the checked operations, the work done (rows
  * landed, objects created or queries answered, counting verified ones
  * only) and workload-specific figures for the summary and the trace. */
final case class PassResult(wall: Double, ops: Seq[Op], items: Double,
                            figures: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  /** Unit of `items` in the human summary: rows, objects, queries. */
  def itemUnit: String
  /** Typical cost of a warm pass and its check on a 4-core machine;
    * sizes the pass count. */
  def nominalPassSeconds: Double
  /** Share of the passes after the set-up that warm the JIT up and are
    * left out of the figures. None by default: the JIT warm-up of the
    * migration and DDL passes has not levelled off at the end of a run, so
    * the mean over all of them integrates it, where a window of late passes
    * lands before or after a JIT step from one run to the next. */
  def warmupShare: Double = 0.0
  /** Build the inputs. Untimed; runs once per process, on the first
    * session, before its first pass. */
  def prepare(spark: SparkSession): Unit
  /** Run one pass, timing only the program's own work, then check its
    * outputs independently (untimed). */
  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult
  def close(): Unit = ()
}

object Workloads {
  /** What `Migrate.endpoint` builds for a `jdbc:` URL. */
  def jdbc(url: String): Jdbc = Jdbc(url, "%s")

  def quietLog: RunLog = new RunLog(showConsoleLogs = false)

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val reported = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Stage times of a `RunReport`; each distinct stage failure is logged
    * once per run to stderr, so a failing object can be diagnosed. */
  def stageFigures(stats: Seq[Pipeline.StageStat]): Map[String, Double] = {
    stats.foreach(s => s.failures.foreach { f =>
      val line = s"${s.stage}: $f".take(400)
      if (reported.add(line)) System.err.println(s"[perfbench] pipeline failure $line")
    })
    stats.map(s => s"pipeline.${s.stage}_s" -> s.seconds).toMap
  }

  /** Count + two independent content hashes of a frame, computed by Spark
    * SQL over the files themselves (not through `graft.transfer`). */
  def frameDigest(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.map(c => "`" + c.replace("`", "``") + "`").mkString(", ")
    val r = df.selectExpr("count(1)", s"bit_xor(xxhash64($cols))",
      s"sum(cast(hash($cols) as bigint))").collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Does a "<stage> <table>[: message]" failure line name `table`? */
  def names(failure: String, table: String): Boolean =
    failure.split(" ", 2) match {
      case Array(_, rest) => rest == table || rest.startsWith(table + ":")
      case _ => false
    }

  /** A migrate pass stands for one `graft.Migrate` invocation, which runs
    * one pipeline per JVM and so compiles every class Spark generates for
    * it. Repeated in one JVM, a pipeline's ~77 classes sit at the edge of
    * Spark's default 100-entry codegen cache, and runs flipped between all
    * hits and recompiling a third of them on every pass (NOTES.md, finding
    * 6); emptying the cache before each pass (untimed) keeps the program's
    * setting and makes every pass compile what an invocation compiles. */
  def freshCodegen(): Unit = org.apache.spark.PerfbenchSpark.clearCodegenCache()

  def deleteTree(p: Path): Unit = if (Files.exists(p)) Transfer.deleteRecursively(p)
}

import Workloads._

/** migrate_jdbc — the reference's own use case: JDBC read → convert → JDBC
  * batch write → JDBC read-back validate, Derby to a fresh Derby, through
  * `Pipeline.run` with stages schema, views, data, validate.
  *
  * Why: per-table fixed costs (connections, schema resolution, several
  * Spark jobs per table) are a large share of the time, so this is where
  * `catalog` scans and `transfer`'s per-table job structure show. Executors
  * do little and no `ops` or `operators` code runs. The views stage puts
  * `sqlrewrite` and the view DDL of `ddl` on a gated workload as well
  * (catalog_ddl, which loads them most, runs by name only).
  *
  * Inputs: the nine corpus tables Derby can hold (all but `embeddings`),
  * created under unquoted names and filled with plain JDBC, plus two
  * MySQL-shaped tables: `nulls`, unquoted, with NULLs in every nullable
  * column type, and `"accounts"`, under a quoted lowercase name; and four
  * views over the corpus tables (filter, aggregate, join, CASE).
  */
final class MigrateJdbc(seed: Long, sf: Double, concurrency: Int) extends Workload {
  val name = "migrate_jdbc"
  val itemUnit = "rows"
  val nominalPassSeconds = 3.4
  private var srcUrl: String = _
  private var srcDigest: Map[String, (Long, Long)] = Map.empty

  private val views: Seq[(String, String)] = Seq(
    "V_BIG_ORDERS" -> "SELECT O_ORDERKEY, O_CUSTKEY, O_TOTALPRICE FROM ORDERS WHERE O_TOTALPRICE > 1000",
    "V_ORDER_STATUS" -> ("SELECT O_ORDERSTATUS, COUNT(*) AS N, SUM(O_TOTALPRICE) AS TOTAL " +
      "FROM ORDERS GROUP BY O_ORDERSTATUS"),
    "V_CUSTOMER_NATION" -> ("SELECT c.C_CUSTKEY, c.C_NAME, n.N_NAME FROM CUSTOMER c " +
      "JOIN NATION n ON c.C_NATIONKEY = n.N_NATIONKEY"),
    "V_PART_SIZE" -> ("SELECT P_PARTKEY, CASE WHEN P_SIZE > 25 THEN 'large' ELSE 'small' END " +
      "AS SIZE_CLASS FROM PART"))

  private val derbyType: Map[org.apache.spark.sql.types.DataType, String] = {
    import org.apache.spark.sql.types._
    Map(IntegerType -> "INTEGER", LongType -> "BIGINT", DoubleType -> "DOUBLE",
      TimestampNTZType -> "TIMESTAMP")
  }

  private def createCorpusTable(url: String, t: String): Unit = {
    val cols = Corpus.schemas(t).fields.map { f =>
      val ty = derbyType.getOrElse(f.dataType,
        if (f.name == "text") "VARCHAR(4000)" else "VARCHAR(64)")
      s"${f.name} $ty"
    }
    Derby.exec(url, s"CREATE TABLE $t (${cols.mkString(", ")})")
  }

  private def insertCorpus(url: String, t: String, from: Long, until: Long): Unit =
    Derby.withConn(url) { c =>
      val fields = Corpus.schemas(t).fields
      c.setAutoCommit(false)
      val ps = c.prepareStatement(
        s"INSERT INTO $t VALUES (${fields.map(_ => "?").mkString(", ")})")
      var i = from
      while (i < until) {
        val r = Corpus.row(seed, t, sf, i)
        fields.indices.foreach { k =>
          r.get(k) match {
            case d: java.time.LocalDateTime => ps.setTimestamp(k + 1, java.sql.Timestamp.valueOf(d))
            case v => ps.setObject(k + 1, v)
          }
        }
        ps.addBatch()
        i += 1
        if (i % 5000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      c.commit()
    }

  private def insertMysqlShaped(url: String): Unit = Derby.withConn(url) { c =>
    val st = c.createStatement()
    st.execute("""CREATE TABLE nulls (id INT NOT NULL PRIMARY KEY, i INT,
      |b BIGINT, s SMALLINT, d DECIMAL(10,2), f DOUBLE, r REAL, v VARCHAR(64),
      |ch CHAR(8), dt DATE, ts TIMESTAMP, bo BOOLEAN)""".stripMargin)
    st.execute("""CREATE TABLE "accounts" (id INT NOT NULL PRIMARY KEY,
      |email VARCHAR(80) NOT NULL, balance DECIMAL(12,2) NOT NULL,
      |created TIMESTAMP NOT NULL)""".stripMargin)
    c.setAutoCommit(false)
    val n = c.prepareStatement("INSERT INTO nulls VALUES (?,?,?,?,?,?,?,?,?,?,?,?)")
    import java.sql.Types._
    val nullTypes = Array(INTEGER, BIGINT, SMALLINT, DECIMAL, DOUBLE, REAL, VARCHAR,
      CHAR, DATE, TIMESTAMP, BOOLEAN)
    (0 until math.max(50, (200000 * sf).toInt)).foreach { i =>
      val r = new Corpus.Rng(seed, "nulls", i)
      n.setInt(1, i)
      if (i % 4 == 0) nullTypes.indices.foreach(k => n.setNull(k + 2, nullTypes(k)))
      else {
        n.setInt(2, r.int(0, 100000)); n.setLong(3, r.bits(1))
        n.setShort(4, r.int(2, 30000).toShort)
        n.setBigDecimal(5, java.math.BigDecimal.valueOf(r.long(3, 10000000L), 2))
        n.setDouble(6, r.unit(4)); n.setFloat(7, r.unit(5).toFloat)
        n.setString(8, s"v${r.int(6, 1000)}"); n.setString(9, s"c${r.int(7, 100)}")
        n.setDate(10, java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(r.int(8, 1000))))
        n.setTimestamp(11, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2020, 1, 1, 0, 0).plusSeconds(r.long(9, 86400L * 1000))))
        n.setBoolean(12, r.int(10, 2) == 1)
      }
      n.addBatch()
    }
    n.executeBatch()
    val a = c.prepareStatement("INSERT INTO \"accounts\" VALUES (?,?,?,?)")
    (0 until math.max(50, (500000 * sf).toInt)).foreach { i =>
      val r = new Corpus.Rng(seed, "accounts", i)
      a.setInt(1, i); a.setString(2, s"user$i@example.org")
      a.setBigDecimal(3, java.math.BigDecimal.valueOf(r.long(0, 100000000L), 2))
      a.setTimestamp(4, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2019, 1, 1, 0, 0).plusSeconds(r.long(1, 86400L * 1500))))
      a.addBatch()
    }
    a.executeBatch()
    c.commit()
  }

  def prepare(spark: SparkSession): Unit = {
    srcUrl = Derby.create("src")
    // loaded in parallel chunks: the input build is untimed, but it is part
    // of every run's cost
    val corpus = Corpus.tables.filterNot(_ == "embeddings")
    corpus.foreach(createCorpusTable(srcUrl, _))
    val chunks = corpus.flatMap { t =>
      val n = Corpus.rows(t, sf)
      (0L until n by 10000L).map(from => () => insertCorpus(srcUrl, t, from, math.min(n, from + 10000L)))
    }
    (chunks :+ (() => insertMysqlShaped(srcUrl))).par.foreach(_())
    Derby.exec(srcUrl, views.map { case (v, body) => s"CREATE VIEW $v AS $body" }: _*)
    srcDigest = Derby.userTables(srcUrl).par.map(t => t -> Derby.digest(srcUrl, t).get).seq.toMap
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    freshCodegen()
    val dstUrl = Derby.create("dst")
    try {
      val cfg = Pipeline.Config(stopOnError = false, concurrency = concurrency,
        stages = Seq("schema", "views", "data", "validate"))
      val src = jdbc(srcUrl)
      val dst = jdbc(dstUrl)
      // what Migrate does for a jdbc source: list the tables, then run
      val ((results, failures, figures), wall) = timed {
        tracer match {
          case None =>
            val tables = Catalog.listTables(srcUrl)
            val rep = Pipeline.run(spark, src, dst, cfg, tables, quietLog)
            (rep.results, rep.stats.flatMap(s => s.failures.map(f => s"${s.stage} $f")),
              stageFigures(rep.stats))
          case Some(tr) =>
            val tables = tr.span("catalog.listTables")(Catalog.listTables(srcUrl))
            val rep = Replay.run(spark, src, dst, cfg, tables, tr)
            (rep.results, rep.failures, Map.empty[String, Double])
        }
      }
      val byTable = results.map(r => r.table -> r).toMap
      val digests = srcDigest.keys.toSeq.par.map(t => t -> Derby.digest(dstUrl, t)).seq.toMap
      val ops = srcDigest.toSeq.sortBy(_._1).map { case (t, want) =>
        val reported = failures.filter(names(_, t))
        val got = digests(t)
        val problems =
          reported ++
          (if (!byTable.contains(t)) Seq("no transfer result") else Nil) ++
          (got match {
            case None => Seq("target table missing")
            case Some(g) if g != want =>
              Seq(s"target holds ${g._1} rows / hash ${g._2}, source ${want._1} / ${want._2}")
            case _ => Nil
          })
        Op(t, problems.isEmpty, problems.mkString("; "))
      }
      val haveViews = Derby.userViews(dstUrl).toSet
      val viewOps = views.map { case (v, _) =>
        Op(s"view:$v", haveViews(v), if (haveViews(v)) ""
          else ("not in target SYS catalog" +: failures.filter(names(_, v))).mkString("; "))
      }
      val landed = ops.filter(_.ok).map(o => srcDigest(o.op)._1).sum.toDouble
      val tgtTables = Derby.userTables(dstUrl).size.toDouble
      PassResult(wall, ops ++ viewOps, landed, figures ++ Map("rows_landed" -> landed,
        "catalog.target_tables_per_source" -> tgtTables / srcDigest.size))
    } finally Derby.drop(dstUrl)
  }

  override def close(): Unit = if (srcUrl != null) Derby.drop(srcUrl)
}

/** migrate_files — the same `transfer` layer used on files: every corpus
  * table, parquet to a fresh parquet directory, through `Pipeline.run` with
  * stages schema, data, validate.
  *
  * Why: it is bound by executors streaming rows (write repartition sizing,
  * the fused `observe` checksum, the full read-back validation) with no
  * JDBC and no catalog, and it is several times larger than migrate_jdbc,
  * so a change to per-row costs and a change to per-table overheads show on
  * different workloads. No `ops`, `operators` or `catalog` code runs.
  */
final class MigrateFiles(seed: Long, sf: Double, work: Path, concurrency: Int)
    extends Workload {
  val name = "migrate_files"
  val itemUnit = "rows"
  val nominalPassSeconds = 6.0
  private val srcDir = work.resolve(s"files_src_$seed")
  private var srcDigest: Map[String, (Long, Long, Long)] = Map.empty
  private var n = 0

  def prepare(spark: SparkSession): Unit = {
    deleteTree(srcDir)
    Corpus.writeParquet(spark, seed, sf, srcDir.toString)
    srcDigest = Corpus.tables.map(t =>
      t -> frameDigest(spark.read.parquet(s"$srcDir/$t.parquet"))).toMap
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    freshCodegen()
    n += 1
    val dstDir = work.resolve(s"files_dst_${seed}_$n")
    deleteTree(dstDir)
    try {
      val cfg = Pipeline.Config(stopOnError = false, concurrency = concurrency,
        stages = Seq("schema", "views", "data", "validate"))
      val src = ParquetDir(srcDir.toString)
      val dst = ParquetDir(dstDir.toString)
      // what Migrate does for a file source: probe the known table names
      val ((results, failures, figures), wall) = timed {
        tracer match {
          case None =>
            val tables = graft.sources.Tables.all.filter(t => Transfer.exists(spark, src, t))
            val rep = Pipeline.run(spark, src, dst, cfg, tables, quietLog)
            (rep.results, rep.stats.flatMap(s => s.failures.map(f => s"${s.stage} $f")),
              stageFigures(rep.stats))
          case Some(tr) =>
            val tables = graft.sources.Tables.all
              .filter(t => tr.span("transfer.exists")(Transfer.exists(spark, src, t)))
            val rep = Replay.run(spark, src, dst, cfg, tables, tr)
            (rep.results, rep.failures, Map.empty[String, Double])
        }
      }
      val byTable = results.map(r => r.table -> r).toMap
      val ops = Corpus.tables.map { t =>
        val want = srcDigest(t)
        val reported = failures.filter(names(_, t))
        val got = Try(frameDigest(spark.read.parquet(s"$dstDir/$t.parquet"))).toOption
        val problems = reported ++
          (if (!byTable.contains(t)) Seq("no transfer result") else Nil) ++
          (got match {
            case None => Seq("target table missing")
            case Some(g) if g != want => Seq(s"target digest $g, source $want")
            case _ => Nil
          })
        Op(t, problems.isEmpty, problems.mkString("; "))
      }
      val landed = ops.filter(_.ok).map(o => srcDigest(o.op)._1).sum.toDouble
      PassResult(wall, ops, landed, figures + ("rows_landed" -> landed))
    } finally deleteTree(dstDir)
  }

  override def close(): Unit = deleteTree(srcDir)
}

/** catalog_ddl — the driver-side path: `catalog` scans, `ddl` emitters,
  * `sqlrewrite` on view bodies, one JDBC connection per call and sequential
  * DDL execution, through `Pipeline.run` with stages schema, views, indexes,
  * functions, users, privileges (no data), Derby to a fresh Derby.
  *
  * Why: Spark executors sit almost idle, so this isolates the per-object
  * costs; the source catalog has the object mix of the reference's
  * published sample run (39 tables, 10 views, 132 indexes, 3 functions,
  * 3 users, 6 table grants), the one figure comparable with its
  * 232 objects / 9.63 s.
  */
final class CatalogDdl(seed: Long, mix: CatalogDdl.Mix) extends Workload {
  val name = "catalog_ddl"
  val itemUnit = "objects"
  // Derby compiles every statement into classes of its own, new on each
  // fresh target, so pass times still fall after 40 passes
  val nominalPassSeconds = 0.95
  private var srcUrl: String = _
  private var expected: Seq[(String, String)] = Nil // (kind, target name)

  private val extraTypes = Array("INTEGER", "BIGINT", "VARCHAR(120)", "DOUBLE",
    "DATE", "SMALLINT", "BOOLEAN", "CHAR(4)", "DECIMAL(8,3)")

  def prepare(spark: SparkSession): Unit = {
    srcUrl = Derby.create("cat_src", sqlAuthorization = true)
    val r = new Corpus.Rng(seed, "catalog", 0)
    val tables = CatalogDdl.tableNames.take(mix.tables)
    val stmts = Seq.newBuilder[String]
    val exp = Seq.newBuilder[(String, String)]
    // indexes spread as evenly as the mix allows: every table gets
    // indexes / tables of them, the first (indexes % tables) one more
    val perTable = tables.indices.map(i =>
      mix.indexes / tables.size + (if (i < mix.indexes % tables.size) 1 else 0))
    tables.zipWithIndex.foreach { case (t, i) =>
      val extras = (0 until 2 + r.int(100 + i, 4)).map(k =>
        s"X$k ${extraTypes(r.int(200 + i * 8 + k, extraTypes.length))}")
      stmts += (s"CREATE TABLE $t (ID BIGINT NOT NULL PRIMARY KEY, NAME VARCHAR(64) NOT NULL, " +
        s"AMOUNT DECIMAL(12,2), CREATED TIMESTAMP, STATUS CHAR(1), ${extras.mkString(", ")})")
      exp += "table" -> t
      val cols = Seq("NAME", "AMOUNT", "CREATED", "STATUS") ++ extras.map(_.split(" ")(0))
      val sets = cols.map(Seq(_)) ++ cols.sliding(2).map(_.toSeq)
      val start = r.int(300 + i, cols.size)
      (0 until perTable(i)).foreach { k =>
        val cs = sets((start + k) % sets.size)
        val unique = k == 0 && cs == Seq("NAME")
        val ix = s"IX$k"
        stmts += s"CREATE ${if (unique) "UNIQUE " else ""}INDEX ${t}_$ix ON $t (${cs.mkString(", ")})"
        exp += "index" -> s"${t}_${t}_$ix".take(63)
      }
    }
    (0 until mix.views).foreach { v =>
      val a = tables(r.int(400 + v, tables.size))
      val b = tables((tables.indexOf(a) + 1 + r.int(450 + v, tables.size - 1)) % tables.size)
      val body = v % 5 match {
        case 0 => s"SELECT ID, NAME, AMOUNT FROM $a WHERE AMOUNT > ${r.int(500 + v, 1000)}"
        case 1 => s"SELECT STATUS, COUNT(*) AS N, SUM(AMOUNT) AS TOTAL FROM $a GROUP BY STATUS"
        case 2 => s"SELECT x.ID, x.NAME, y.NAME AS OTHER_NAME FROM $a x JOIN $b y ON x.ID = y.ID"
        case 3 => s"SELECT ID, COALESCE(AMOUNT, 0) AS AMOUNT, UPPER(NAME) AS UNAME FROM $a"
        case _ => s"SELECT ID, CASE WHEN STATUS = 'A' THEN 'active' ELSE 'other' END AS STATE FROM $a"
      }
      stmts += s"CREATE VIEW V_$v AS $body"
      exp += "view" -> s"V_$v"
    }
    CatalogDdl.functions.take(mix.functions).foreach { case (f, sig, method) =>
      stmts += s"CREATE FUNCTION $f$sig LANGUAGE JAVA PARAMETER STYLE JAVA " +
        s"NO SQL EXTERNAL NAME '$method'"
      exp += "function" -> f
    }
    val users = (1 to mix.users).map(u => s"APP_USER_$u")
    users.foreach(u => exp += "user" -> u)
    (0 until mix.grants).foreach { g =>
      val u = users(g % users.size)
      val t = tables((g * 7 + r.int(600, tables.size)) % tables.size)
      stmts += s"GRANT SELECT ON $t TO $u"
      exp += "grant" -> s"$u/$t"
    }
    Derby.exec(srcUrl, stmts.result(): _*)
    expected = exp.result().distinct
  }

  private def created(url: String): Set[(String, String)] = {
    val t = Derby.query(url, "SELECT t.TABLENAME, t.TABLETYPE FROM SYS.SYSTABLES t " +
      "JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID WHERE s.SCHEMANAME = 'APP'")(rs =>
      (if (rs.getString(2) == "V") "view" else "table") -> rs.getString(1))
    val ix = Derby.query(url, "SELECT c.CONGLOMERATENAME FROM SYS.SYSCONGLOMERATES c " +
      "JOIN SYS.SYSSCHEMAS s ON c.SCHEMAID = s.SCHEMAID " +
      "WHERE c.ISINDEX AND s.SCHEMANAME = 'APP'")(rs => "index" -> rs.getString(1))
    val fn = Derby.query(url, "SELECT a.ALIAS FROM SYS.SYSALIASES a JOIN SYS.SYSSCHEMAS s " +
      "ON a.SCHEMAID = s.SCHEMAID WHERE a.ALIASTYPE = 'F' AND s.SCHEMANAME = 'APP'")(rs =>
      "function" -> rs.getString(1))
    val us = Derby.query(url, "SELECT USERNAME FROM SYS.SYSUSERS")(rs => "user" -> rs.getString(1))
    val gr = Derby.query(url, "SELECT p.GRANTEE, t.TABLENAME FROM SYS.SYSTABLEPERMS p " +
      "JOIN SYS.SYSTABLES t ON p.TABLEID = t.TABLEID WHERE p.SELECTPRIV IN ('y', 'Y')")(rs =>
      "grant" -> s"${rs.getString(1)}/${rs.getString(2)}")
    (t ++ ix ++ fn ++ us ++ gr).toSet
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    val dstUrl = Derby.create("cat_dst", sqlAuthorization = true)
    try {
      val cfg = Pipeline.Config(stopOnError = false,
        stages = Seq("schema", "views", "indexes", "functions", "users", "privileges"))
      val ((failures, figures), wall) = timed {
        tracer match {
          case None =>
            val tables = Catalog.listTables(srcUrl)
            val rep = Pipeline.run(spark, jdbc(srcUrl), jdbc(dstUrl), cfg, tables, quietLog)
            (rep.stats.flatMap(s => s.failures.map(f => s"${s.stage} $f")),
              stageFigures(rep.stats))
          case Some(tr) =>
            val tables = tr.span("catalog.listTables")(Catalog.listTables(srcUrl))
            (Replay.run(spark, jdbc(srcUrl), jdbc(dstUrl), cfg, tables, tr).failures,
              Map.empty[String, Double])
        }
      }
      val have = created(dstUrl)
      // a missing object's detail carries the stage failures that name it
      val ops = expected.map { case (kind, n) =>
        Op(s"$kind:$n", have((kind, n)),
          if (have((kind, n))) ""
          else ("not in target SYS catalog" +: failures.filter(names(_, n))).mkString("; "))
      }
      PassResult(wall, ops, ops.count(_.ok).toDouble, figures)
    } finally Derby.drop(dstUrl)
  }

  override def close(): Unit = if (srcUrl != null) Derby.drop(srcUrl)
}

object CatalogDdl {
  final case class Mix(tables: Int, views: Int, indexes: Int, functions: Int,
                       users: Int, grants: Int)
  /** The object mix of the reference's published sample run. */
  val reference = Mix(39, 10, 132, 3, 3, 6)
  val smoke = Mix(3, 1, 3, 1, 1, 2)

  val tableNames: Seq[String] = Seq("ACCOUNTS", "ADDRESSES", "AUDIT_LOG", "BANNERS",
    "BRANDS", "CARTS", "CART_ITEMS", "CATEGORIES", "CITIES", "COUPONS", "COUNTRIES",
    "CURRENCIES", "CUSTOMERS", "DEPARTMENTS", "EMPLOYEES", "INVENTORY", "INVOICES",
    "LOGINS", "MESSAGES", "NOTES", "ORDERS", "ORDER_ITEMS", "PAYMENTS", "PRICES",
    "PRODUCTS", "PROMOTIONS", "RATINGS", "REFUNDS", "REGIONS", "RETURNS", "REVIEWS",
    "ROLES", "SESSIONS", "SHIPMENTS", "STORES", "SUPPLIERS", "TAGS", "TICKETS",
    "WAREHOUSES")

  val functions: Seq[(String, String, String)] = Seq(
    ("F_ABS", "(X INTEGER) RETURNS INTEGER", "java.lang.Math.abs"),
    ("F_SQRT", "(X DOUBLE) RETURNS DOUBLE", "java.lang.Math.sqrt"),
    ("F_MAXI", "(A INTEGER, B INTEGER) RETURNS INTEGER", "java.lang.Math.max"))
}

/** query_suite — a fixed list of `SparkEntry.queries` over a generated
  * corpus, each timed as build plus an aggregate of count(1) and
  * bit_xor(xxhash64(all columns)), which forces every output column to be
  * computed (a bare count() lets Catalyst prune them).
  *
  * Why: this is where `ops` and `operators` do the work and `transfer` and
  * `catalog` do none; it carries `Bench` headline queries (Main.suiteQueries),
  * and q91_global_deciles covers the `GlobalOrder` RDD round trip.
  *
  * The corpus does not depend on the seed: the expected (rows, hash) of
  * every query are stored in the benchmark's own files.
  */
final class QuerySuite(queries: Seq[String], work: Path,
                       expected: Map[String, (Long, Long)]) extends Workload {
  val name = "query_suite"
  val itemUnit = "queries"
  val nominalPassSeconds = 1.25
  // query passes level off after about five passes (~2.5 s to ~1.3 s), so
  // the first half of them are left out as JIT warm-up
  override val warmupShare = 0.5
  val corpusSeed = 20261017L
  val sf = 0.001
  private val dir = work.resolve(s"query_corpus_sf$sf")

  def prepare(spark: SparkSession): Unit = {
    // generated once per checkout; the marker is written last
    val marker = dir.resolve("_COMPLETE")
    if (!Files.exists(marker)) {
      deleteTree(dir)
      Corpus.writeParquet(spark, corpusSeed, sf, dir.toString)
      Files.write(marker, Array.emptyByteArray)
    }
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    def span[A](n: String)(b: => A): A = tracer.fold(b)(_.span(n)(b))
    val results = queries.map { q =>
      val t0 = System.nanoTime()
      val r = Try {
        val df = span(s"query.$q.build")(graft.SparkEntry.queries(q)(spark, dir.toString))
        val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
        span(s"query.$q.exec")(df.agg(expr("count(1)"),
          org.apache.spark.sql.functions.bit_xor(
            org.apache.spark.sql.functions.xxhash64(cols.toIndexedSeq: _*))).collect().head)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      (q, secs, r.map(row => (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))))
    }
    val wall = results.map(_._2).sum
    val ops = results.map {
      case (q, _, Failure(e)) => Op(q, ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      case (q, _, Success(got)) =>
        expected.get(q) match {
          case None => Op(q, ok = false, s"no expected value; got $got")
          case Some(want) if want != got => Op(q, ok = false, s"got $got, expected $want")
          case _ => Op(q, ok = true)
        }
    }
    val secs = results.map(_._2)
    PassResult(wall, ops, ops.count(_.ok).toDouble, Map(
      "query_geomean_s" -> math.exp(secs.map(s => math.log(math.max(s, 1e-6))).sum / secs.size)) ++
      results.map { case (q, s, _) => s"query.$q.total_s" -> s })
  }
}
