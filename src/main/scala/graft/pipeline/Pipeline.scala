package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.catalog.Catalog
import graft.ddl.{DdlConverter, FunctionDdl}
import graft.transfer.Transfer
import graft.transfer.Transfer.{Endpoint, Jdbc, TransferResult}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** Stage orchestrator — the reference's `Run`/`executeConversion`
  * (manager.go:88-268, :369-1144) re-expressed driver-side:
  *
  *  - fixed stage order when everything is on (manager.go:412-444):
  *    schema → views → data → validate → indexes → functions → users →
  *    privileges; each stage optional (config toggles select a subset);
  *  - per-stage concurrency via a bounded ExecutionContext (the goroutine
  *    semaphore, `manager.go:371`); data-stage tasks are *driver-side*
  *    submissions only — each table copy is itself a distributed Spark job,
  *    so cross-table parallelism multiplies cluster utilization without
  *    oversubscribing (Spark's scheduler arbitrates executor slots);
  *  - include/exclude table lists (`metadata.go:89-122`);
  *  - first-error-wins abort vs continue-on-error policy
  *    (`manager.go:372,433-437`); validation failures abort ONLY when
  *    `truncate_before_sync` is on — append-mode runs warn and keep going,
  *    reporting inconsistent tables at the end (README.md:137-144);
  *  - per-stage timing stats (`ConversionStageStat`, manager.go:16-39);
  *  - per-stage narrative + error lines through [[RunLog]] (the
  *    reference's file/error log split, manager.go:1695-1737).
  *
  * The object-catalog stages (views/indexes/functions/users/privileges)
  * read via [[graft.catalog.Catalog]]'s S5-S8 scans and emit via
  * [[graft.ddl.DdlConverter]]. DDL execution is *lenient*: the emitters
  * speak PostgreSQL (`IF [NOT] EXISTS`, `OR REPLACE`, `CASCADE`), and a
  * target that rejects that sugar gets one retry with it stripped — so the
  * same pipeline drives PG and ANSI-only embedded targets. All DDL stages
  * are driver-side cold path; only the data stage touches executors.
  */
object Pipeline {

  final case class Config(
      includeTables: Seq[String] = Nil,
      excludeTables: Seq[String] = Nil,
      truncateBeforeSync: Boolean = true,
      validateData: Boolean = true,
      stopOnError: Boolean = true,
      concurrency: Int = 4,
      stages: Seq[String] = Seq("schema", "data", "validate"),
      lowercaseColumns: Boolean = false)

  /** All stages in reference order (manager.go:412-444), for a full run. */
  val allStages: Seq[String] =
    Seq("schema", "views", "data", "validate", "indexes", "functions",
      "users", "privileges")

  final case class StageStat(stage: String, items: Int, seconds: Double,
      failures: Seq[String])

  final case class RunReport(stats: Seq[StageStat], results: Seq[TransferResult]) {
    def inconsistent: Seq[TransferResult] =
      results.filter(r => r.srcRows != r.dstRows || !r.checksumMatch)
  }

  /** Include/exclude matching is case-insensitive: the reference compares
    * config names against catalog names loosely, and a whitelist whose case
    * differs from the source's must select the table rather than silently
    * selecting nothing (and exiting 0 having migrated nothing). */
  def tableList(cfg: Config, all: Seq[String]): Seq[String] =
    all.filter(t => cfg.includeTables.isEmpty ||
        cfg.includeTables.exists(_.equalsIgnoreCase(t)))
      .filterNot(x => cfg.excludeTables.exists(_.equalsIgnoreCase(x)))

  /** Execute DDL with one PG-sugar-stripped retry (`IF [NOT] EXISTS`,
    * `OR REPLACE`, trailing `CASCADE`) so PG-flavored emissions run on
    * ANSI-only targets too. Statements carrying a dollar-quoted body
    * (PL/pgSQL functions, DO blocks) are never rewritten — the sugar may
    * be INSIDE the body, and stripping it there would silently change the
    * installed function's semantics. If both attempts fail, the error
    * carries the original message first and the retry's message after it:
    * the retry's is often the real cause (a type the target lacks) once
    * the sugar the target rejected first is gone. */
  private[graft] def execLenient(url: String, ddl: String): Try[Unit] =
    Try(Catalog.executeDdl(url, ddl)).recoverWith { case e =>
      // reference parity (manager.go:1337-1414): a failed COMMENT ON
      // COLUMN retries under the alternative identifier quotings/casings
      // the target may have folded the column to; first success wins,
      // all-fail returns the ORIGINAL error
      val commentRetries = graft.ddl.DdlConverter.columnCommentFallbacks(ddl)
      if (commentRetries.nonEmpty)
        commentRetries.iterator.map(f => Try(Catalog.executeDdl(url, f)))
          .find(_.isSuccess).getOrElse(Failure(e))
      else {
        val stripped =
          if (ddl.contains("$$")) ddl
          else ddl
            .replaceAll("(?i)\\bIF\\s+NOT\\s+EXISTS\\s+", "")
            .replaceAll("(?i)\\bIF\\s+EXISTS\\s+", "")
            .replaceAll("(?i)\\bOR\\s+REPLACE\\s+", "")
            .replaceAll("(?i)\\s+CASCADE\\s*$", "")
        if (stripped != ddl)
          Try(Catalog.executeDdl(url, stripped)).recoverWith { case r =>
            Failure(new java.sql.SQLException(
              s"${e.getMessage}; retry without PG sugar: ${r.getMessage}", e))
          }
        else Failure(e)
      }
    }

  /** Run a source→target migration: data plane plus the object-catalog
    * (views/indexes/functions/users/privileges) when configured. */
  def run(spark: SparkSession, src: Endpoint, dst: Endpoint,
          cfg: Config = Config(),
          tables: Seq[String] = graft.sources.Tables.all,
          log: RunLog = RunLog.consoleOnly): RunReport = {
    val pool = Executors.newFixedThreadPool(cfg.concurrency)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val stats = Vector.newBuilder[StageStat]
    var results: Seq[TransferResult] = Nil
    val selected = tableList(cfg, tables)
    val srcJdbc = src match { case j: Jdbc => Some(j); case _ => None }
    val dstJdbc = dst match { case j: Jdbc => Some(j); case _ => None }

    /** Run one DDL-emitting stage: `emit` lists (label, statements,
      * dropIsOptional); statements execute in order on the JDBC target,
      * optional leading drops failing silently (fresh targets lack the
      * object). Non-JDBC endpoints make the stage a no-op with 0 items
      * (parquet directories hold no views/users). */
    def ddlStage(stage: String)(emit: Jdbc => Seq[(String, Seq[String], Boolean)]): Unit = {
      val t0 = System.nanoTime()
      // the source-catalog scan inside `emit` can itself throw (dropped
      // connection, permission loss mid-run) — that is a stage failure
      // subject to the SAME stopOnError policy as per-item DDL errors,
      // not an escape hatch past the continue-on-error contract
      val (items, scanFailures) = (srcJdbc, dstJdbc) match {
        case (Some(sj), Some(dj)) =>
          scala.util.Try(emit(sj)) match {
            case scala.util.Success(emitted) =>
              (emitted.map { case (label, stmts, dropOptional) =>
                val failed = stmts.zipWithIndex.flatMap { case (ddl, i) =>
                  execLenient(dj.url, ddl) match {
                    case Failure(e) if !(dropOptional && i == 0) =>
                      Some(s"$label: ${e.getMessage}")
                    case _ => None
                  }
                }
                (label, failed)
              }, Nil)
            case Failure(e) =>
              (Nil, Seq(s"source scan: ${e.getMessage}"))
          }
        case _ => (Nil, Nil)
      }
      val failures = items.flatMap(_._2) ++ scanFailures
      stats += StageStat(stage, items.size, (System.nanoTime() - t0) / 1e9,
        failures)
      log.log(f"stage $stage: ${items.size} items in ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        (if (failures.nonEmpty) s" (${failures.size} failed)" else ""))
      failures.foreach(f => log.error(s"$stage: $f"))
      if (failures.nonEmpty && cfg.stopOnError)
        throw new RuntimeException(s"$stage stage failed: ${failures.mkString("; ")}")
    }

    try {
      cfg.stages.foreach {
        case "schema" =>
          // reference stage 1 (manager.go:414-455): create target tables
          // up front so the views stage can reference them before data
          // lands. JDBC targets get real CREATE TABLEs (skip existing,
          // manager.go:1228-1278); file targets carry schema in-file.
          val t0 = System.nanoTime()
          val failures = dstJdbc match {
            case Some(dj) => selected.flatMap { t =>
              Try {
                if (!Catalog.tableExists(dj.url, t)) {
                  val schema = Transfer.read(spark, src, t).schema
                  Catalog.executeDdl(dj.url, DdlConverter.ddlForSchema(
                    t, schema, cfg.lowercaseColumns, dj.url))
                }
              }.failed.toOption.map(e => s"$t: ${e.getMessage}")
            }
            case _ => Nil
          }
          stats += StageStat("schema", selected.size,
            (System.nanoTime() - t0) / 1e9, failures)
          log.log(s"stage schema: ${selected.size} tables" +
            (if (failures.nonEmpty) s" (${failures.size} failed)" else ""))
          failures.foreach(f => log.error(s"schema: $f"))
          if (failures.nonEmpty && cfg.stopOnError)
            throw new RuntimeException(s"schema stage failed: ${failures.mkString("; ")}")

        case "views" =>
          // reference: views convert after table DDL, before data
          // (manager.go:457-495); definitions come rewritten through
          // SqlRewriter inside viewDdl
          ddlStage("views") { sj =>
            Catalog.listViews(sj.url).map { v =>
              (v.name,
                DdlConverter.viewDdl(v.name, v.definition, cfg.lowercaseColumns),
                true)
            }
          }

        case "data" =>
          val t0 = System.nanoTime()
          val futures = selected.map { t =>
            t -> Future(Try(Transfer.copyTable(spark, src, dst, t,
              truncate = cfg.truncateBeforeSync,
              validateChecksum = cfg.validateData)))
          }
          val done = futures.map { case (t, f) => t -> Await.result(f, Duration.Inf) }
          val failures = done.collect { case (t, Failure(e)) => s"$t: ${e.getMessage}" }
          results = done.collect { case (_, Success(r)) => r }
          stats += StageStat("data", selected.size,
            (System.nanoTime() - t0) / 1e9, failures)
          log.log(f"stage data: ${selected.size} tables, " +
            f"${results.map(_.dstRows).sum} rows in ${(System.nanoTime() - t0) / 1e9}%.2f s" +
            (if (failures.nonEmpty) s" (${failures.size} failed)" else ""))
          failures.foreach(f => log.error(s"data: $f"))
          if (failures.nonEmpty && cfg.stopOnError)
            throw new RuntimeException(s"data stage failed: ${failures.mkString("; ")}")

        case "validate" =>
          val t0 = System.nanoTime()
          val bad = results.filter(r => r.srcRows != r.dstRows || !r.checksumMatch)
          stats += StageStat("validate", results.size,
            (System.nanoTime() - t0) / 1e9, bad.map(_.table))
          log.log(s"stage validate: ${results.size} tables" +
            (if (bad.nonEmpty) s" (${bad.size} inconsistent)" else ""))
          // README.md:137-144: a truncate-before-sync run must land exactly
          // the source rows — mismatch aborts. An append-mode run
          // (truncate off) legitimately accumulates rows: warn, keep going,
          // and surface the tables via RunReport.inconsistent at the end.
          if (bad.nonEmpty) {
            if (cfg.truncateBeforeSync && cfg.stopOnError)
              throw new RuntimeException(
                s"validation failed: ${bad.map(b => s"${b.table}(${b.srcRows}!=${b.dstRows})").mkString(", ")}")
            else {
              // say WHY the run continued — blaming truncate when the
              // actual reason is stop_on_error=false misdirects diagnosis
              val why =
                if (!cfg.truncateBeforeSync) "truncate_before_sync=false"
                else "stop_on_error=false"
              bad.foreach(b => log.error(
                s"data validation inconsistent: ${b.table} " +
                s"src=${b.srcRows} dst=${b.dstRows} (continuing: $why)"))
            }
          }

        case "indexes" =>
          // reference: indexes sync after data (manager.go:546-588) so bulk
          // load runs unindexed — the right order at 100 TB too
          ddlStage("indexes") { sj =>
            selected.flatMap { t =>
              // the PK's backing index is already implied by the target's
              // PRIMARY KEY — the reference filters it by MySQL's literal
              // name "PRIMARY" (indexDdl does too); engines with generated
              // PK-index names need the structural filter
              val pk = Catalog.primaryKeys(sj.url, t)
              Catalog.tableIndexes(sj.url, t)
                .filterNot(ix => ix.unique && pk.nonEmpty && ix.columns == pk)
                .flatMap { ix =>
                  DdlConverter.indexDdl(ix.table, ix.name, ix.columns, ix.unique,
                      cfg.lowercaseColumns)
                    .map(ddl => (s"${t}.${ix.name}", Seq(ddl), false))
                }
            }
          }

        case "functions" =>
          // reference: manager.go:589-640; unfetchable definitions were
          // already skipped by the scan (metadata.go:436-439). MySQL-shaped
          // bodies convert to PL/pgSQL for PG targets (ConvertFunctionDDL);
          // other DDL (Derby Java aliases, ANSI routines) passes through.
          ddlStage("functions") { sj =>
            val pgTarget = dstJdbc.exists(_.url.startsWith("jdbc:postgresql"))
            Catalog.listFunctions(sj.url).map { f =>
              val ddl =
                if (pgTarget)
                  FunctionDdl.convert(f.ddl).map(_.ddl).getOrElse(f.ddl)
                else f.ddl
              (f.name, Seq(ddl), false)
            }
          }

        case "users" =>
          // reference: manager.go:641-695; userDdl's CREATE USER guard is
          // PG-specific (DO $$ ... duplicate_object), recorded as a failure
          // on targets without it — grants still attempt
          ddlStage("users") { sj =>
            Catalog.listUsers(sj.url).map { u =>
              (u.name, DdlConverter.userDdl(u.name, u.grants), false)
            }
          }

        case "privileges" =>
          // reference: manager.go:697-786; rows for tables absent from the
          // target are skipped, not failed (manager.go:1638-1645)
          ddlStage("privileges") { sj =>
            // the TARGET's stored name, so the emitted quoted GRANT names
            // the table that exists (a lowercased target would otherwise
            // get GRANT ... ON "Orders" and fail); one lookup per table,
            // not per grant
            val privs = Catalog.listTablePrivileges(sj.url)
            val stored = privs.map(_.table).distinct.flatMap(t =>
              Catalog.resolveTable(dstJdbc.get.url, t).map(t -> _)).toMap
            privs.flatMap(p => stored.get(p.table).map(p -> _))
              .map { case (p, dstName) =>
                (s"${p.user}/$dstName",
                  DdlConverter.tablePrivDdl(p.user, dstName, p.privCsv), false)
              }
          }

        case other =>
          stats += StageStat(other, 0, 0.0, Nil)
      }
      RunReport(stats.result(), results)
    } finally pool.shutdown()
  }
}
