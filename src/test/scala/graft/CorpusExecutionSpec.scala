package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ddl.DdlConverter
import graft.sqlrewrite.SqlRewriter
import scala.util.{Failure, Success, Try}

/** End-to-end corpus gate: the 63-case `create_table.sql` DDL corpus in
  * `src/test/resources/mysql/` (written for this repo in the shape of the
  * reference's `scripts/mysql/` scripts) is parsed by [[DdlConverter]] into
  * StructTypes, materialized as empty temp views, and then the fixture
  * views from `create_view.sql` are rewritten by
  * [[SqlRewriter]] and *executed* against those schemas. This is the full
  * schema+dialect pipeline the reference implements, driven one step
  * further than the reference itself ever could (it only emitted text).
  *
  * ANSI mode is off for the view session — the corpus leans on MySQL's
  * implicit number↔string coercions (LENGTH(int) etc.), which is exactly
  * the compat mode a MySQL-workload migration would run under.
  */
class CorpusExecutionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("corpus-exec-spec", 2,
    Map("spark.sql.ansi.enabled" -> "false", "spark.sql.timeType.enabled" -> "true"))

  override def afterAll(): Unit = spark.stop()

  private lazy val tableResults: (Int, Int, Seq[String]) = {
    val creates = MySqlFixtures.statements("create_table.sql")
      .filter(_.toUpperCase.matches("(?s)^CREATE\\s+(TEMPORARY\\s+)?TABLE\\b.*"))
    var ok = 0
    val failures = Vector.newBuilder[String]
    creates.foreach { ddl =>
      // LIKE / AS SELECT forms have no column body — catalog-copy semantics
      // the engine handles as table-level ops, not DDL parsing; skip here.
      val isCopyForm = (ddl.toUpperCase.matches("(?s).*\\bLIKE\\b.*") && !ddl.contains("(")) ||
        ddl.toUpperCase.matches("(?s).*\\bAS\\s+SELECT\\b.*")
      if (!isCopyForm) {
        Try {
          val spec = DdlConverter.parse(ddl)
          val st = DdlConverter.toStructType(spec, mysqlCompat = true)
          require(st.fields.nonEmpty || spec.columns.forall(_.generated.isDefined),
            s"empty schema for ${spec.name}")
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], st)
            .createOrReplaceTempView(spec.name)
          DdlConverter.toPostgresDdl(spec) // must also emit DDL without throwing
        } match {
          case Success(_) => ok += 1
          case Failure(e) =>
            val name = "(?i)TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([`\\w.]+)".r
              .findFirstMatchIn(ddl).map(_.group(1)).getOrElse("?")
            failures += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(100)}"
        }
      }
    }
    (ok, creates.size, failures.result())
  }

  test("DDL corpus: >=58 of 63 tables parse into schemas + PG DDL") {
    val (ok, total, failures) = tableResults
    info(s"parsed $ok of $total (skipping LIKE/AS-SELECT copy forms)")
    failures.foreach(f => info(s"  FAIL $f"))
    assert(total == 63, s"read $total CREATE TABLE statements")
    assert(ok >= 58, s"only $ok parsed; failures:\n${failures.mkString("\n")}")
  }

  test("all 11 reference views execute against the corpus schemas") {
    tableResults // force table registration
    val views = MySqlFixtures.statements("create_view.sql")
      .filter(_.toUpperCase.contains("CREATE OR REPLACE VIEW"))
    assert(views.size >= 10)
    val failures = views.flatMap { stmt =>
      val name = "(?i)VIEW\\s+(\\S+)".r.findFirstMatchIn(stmt).map(_.group(1)).getOrElse("?")
      // execute the SELECT body (empty inputs → zero rows, but full
      // analysis + physical planning + execution happen)
      val body = stmt.replaceFirst("(?is)^.*?\\bAS\\b", "")
      Try(SqlRewriter.sql(spark, body).collect()) match {
        case Success(rows) => assert(rows.isEmpty); None
        case Failure(e) =>
          Some(s"$name: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(2).mkString(" | ")}")
      }
    }
    assert(failures.isEmpty,
      "views failing execution against corpus schemas:\n" + failures.mkString("\n"))
  }
}
