package graft.perfbench

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import graft.catalog.Catalog
import graft.ddl.DdlConverter
import graft.pipeline.Pipeline
import graft.sqlrewrite.SqlRewriter
import graft.transfer.Transfer
import graft.transfer.Transfer.{Endpoint, Jdbc, TransferResult}

/** The traced form of a migration: `Pipeline.run`'s stage order replayed
  * through the same public calls, each wrapped in a span, so the time of a
  * pass can be split by module without changing the program. Stages keep
  * `Pipeline.run`'s semantics: table creation on JDBC targets only, one
  * `copyTable` per table on a pool of `concurrency` threads, each DDL
  * statement executed with the same lenient retry, optional leading drops
  * allowed to fail.
  */
object Replay {

  final case class Report(results: Seq[TransferResult], failures: Seq[String])

  def run(spark: SparkSession, src: Endpoint, dst: Endpoint, cfg: Pipeline.Config,
          tables: Seq[String], tr: Tracer): Report = {
    val selected = Pipeline.tableList(cfg, tables)
    val srcJdbc = src match { case j: Jdbc => Some(j); case _ => None }
    val dstJdbc = dst match { case j: Jdbc => Some(j); case _ => None }
    var results: Seq[TransferResult] = Nil
    val failures = Seq.newBuilder[String]

    def ddlStage(stage: String)(emit: Jdbc => Seq[(String, Seq[String], Boolean)]): Unit =
      (srcJdbc, dstJdbc) match {
        case (Some(sj), Some(dj)) =>
          Try(emit(sj)) match {
            case Success(items) => items.foreach { case (label, stmts, dropOptional) =>
              stmts.zipWithIndex.foreach { case (ddl, i) =>
                tr.span("catalog.executeDdl")(Pipeline.execLenient(dj.url, ddl)) match {
                  case Failure(e) if !(dropOptional && i == 0) =>
                    failures += s"$stage $label: ${e.getMessage}"
                  case _ =>
                }
              }
            }
            case Failure(e) => failures += s"$stage source scan: ${e.getMessage}"
          }
        case _ =>
      }

    cfg.stages.foreach { stage =>
      tr.span(s"pipeline.$stage") {
        stage match {
          case "schema" => dstJdbc.foreach { dj =>
            selected.foreach { t =>
              Try {
                if (!tr.span("catalog.tableExists")(Catalog.tableExists(dj.url, t))) {
                  val schema = tr.span("transfer.read")(Transfer.read(spark, src, t).schema)
                  val ddl = tr.span("ddl.ddlForSchema")(DdlConverter.ddlForSchema(
                    t, schema, cfg.lowercaseColumns, dj.url))
                  tr.span("catalog.executeDdl")(Catalog.executeDdl(dj.url, ddl))
                }
              }.failed.foreach(e => failures += s"schema $t: ${e.getMessage}")
            }
          }

          case "views" => ddlStage("views") { sj =>
            tr.span("catalog.listViews")(Catalog.listViews(sj.url)).map { v =>
              // timed on its own to size the rewrite; viewDdl repeats it
              tr.span("sqlrewrite.rewrite")(SqlRewriter.rewrite(v.definition.trim))
              (v.name, tr.span("ddl.viewDdl")(
                DdlConverter.viewDdl(v.name, v.definition, cfg.lowercaseColumns)), true)
            }
          }

          case "data" =>
            val pool = Executors.newFixedThreadPool(cfg.concurrency)
            implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
            try {
              val futures = selected.map { t =>
                t -> Future(Try(tr.span("transfer.copyTable")(Transfer.copyTable(
                  spark, src, dst, t, truncate = cfg.truncateBeforeSync,
                  validateChecksum = cfg.validateData))))
              }
              val done = futures.map { case (t, f) => t -> Await.result(f, Duration.Inf) }
              done.collect { case (t, Failure(e)) => failures += s"data $t: ${e.getMessage}" }
              results = done.collect { case (_, Success(r)) => r }
            } finally pool.shutdown()

          case "validate" =>
            results.filter(r => r.srcRows != r.dstRows || !r.checksumMatch)
              .foreach(r => failures += s"validate ${r.table}")

          case "indexes" => ddlStage("indexes") { sj =>
            selected.flatMap { t =>
              val pk = tr.span("catalog.primaryKeys")(Catalog.primaryKeys(sj.url, t))
              tr.span("catalog.tableIndexes")(Catalog.tableIndexes(sj.url, t))
                .filterNot(ix => ix.unique && pk.nonEmpty && ix.columns == pk)
                .flatMap { ix =>
                  tr.span("ddl.indexDdl")(DdlConverter.indexDdl(ix.table, ix.name,
                    ix.columns, ix.unique, cfg.lowercaseColumns))
                    .map(ddl => (s"$t.${ix.name}", Seq(ddl), false))
                }
            }
          }

          case "functions" => ddlStage("functions") { sj =>
            val pgTarget = dstJdbc.exists(_.url.startsWith("jdbc:postgresql"))
            tr.span("catalog.listFunctions")(Catalog.listFunctions(sj.url)).map { f =>
              val ddl =
                if (pgTarget) tr.span("ddl.functionDdl")(
                  graft.ddl.FunctionDdl.convert(f.ddl).map(_.ddl).getOrElse(f.ddl))
                else f.ddl
              (f.name, Seq(ddl), false)
            }
          }

          case "users" => ddlStage("users") { sj =>
            tr.span("catalog.listUsers")(Catalog.listUsers(sj.url)).map { u =>
              (u.name, tr.span("ddl.userDdl")(DdlConverter.userDdl(u.name, u.grants)), false)
            }
          }

          case "privileges" => ddlStage("privileges") { sj =>
            val dstByLower = tr.span("catalog.listTables")(Catalog.listTables(dstJdbc.get.url))
              .map(t => t.toLowerCase -> t).toMap
            tr.span("catalog.listTablePrivileges")(Catalog.listTablePrivileges(sj.url))
              .flatMap(p => dstByLower.get(p.table.toLowerCase).map(p -> _))
              .map { case (p, dstName) =>
                (s"${p.user}/$dstName", tr.span("ddl.tablePrivDdl")(
                  DdlConverter.tablePrivDdl(p.user, dstName, p.privCsv)), false)
              }
          }

          case _ =>
        }
      }
    }
    Report(results, failures.result())
  }
}
