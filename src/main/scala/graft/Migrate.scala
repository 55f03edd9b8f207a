package graft

import graft.catalog.Catalog
import graft.config.GraftConfig
import graft.ddl.DdlConverter
import graft.pipeline.{Pipeline, ProgressTracker}
import graft.transfer.Transfer
import graft.transfer.Transfer.{CsvDir, Endpoint, Jdbc, JsonDir, OrcDir, ParquetDir}
import org.apache.spark.metrics.source.CodegenMetrics

/** The user entry point — the reference's `./mysql2pg -c config.yml`
  * (cmd/main.go:16-158) re-expressed:
  *
  *   runMain graft.Migrate -c config.yml
  *
  * Flow (E1, SURVEY.md §3): load config → connectivity/version probe
  * (`test_only` exits <1s) → schema stage (create target tables; skip
  * existing like manager.go:1228-1278) → data stage (one distributed job
  * per table, bounded cross-table concurrency) → validation (counts +
  * checksums) → summary + inconsistency report
  * (manager.go:1752-1800).
  *
  * Endpoints are URL-typed in the config: a path → parquet directory,
  * `jdbc:` → database, `csv:`/`json:`/`orc:` prefix → that file format's
  * directory (text targets get the source schema threaded automatically
  * for the validation read-back).
  */
object Migrate {

  private def endpoint(url: String): Endpoint =
    if (url.startsWith("jdbc:")) Jdbc(url, "%s")
    else if (url.startsWith("csv:")) CsvDir(url.stripPrefix("csv:"))
    else if (url.startsWith("json:")) JsonDir(url.stripPrefix("json:"))
    else if (url.startsWith("orc:")) OrcDir(url.stripPrefix("orc:"))
    else ParquetDir(url)

  def main(args: Array[String]): Unit = {
    val cfgPath = args.sliding(2).collectFirst { case Array("-c", p) => p }
      .getOrElse(sys.error("usage: graft.Migrate -c config.yml"))
    val cfg = GraftConfig.load(cfgPath)
    val t0 = System.nanoTime()

    // connectivity / version probe, test_only fast exit (cmd/main.go:96-144)
    Seq("source" -> cfg.sourceUrl, "target" -> cfg.targetUrl).foreach {
      case (side, url) if url.startsWith("jdbc:") =>
        println(s"[$side] ${Catalog.version(url)}")
      case (side, url) =>
        val kind = endpoint(url) match {
          case _: CsvDir => "csv dir"; case _: JsonDir => "json dir"
          case _: OrcDir => "orc dir"; case _ => "parquet dir"
        }
        println(s"[$side] $kind $url")
    }
    if (cfg.testOnly) {
      println(f"[test_only] connectivity OK in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      return
    }

    // SPARK_MASTER points the run at a cluster; local[cpus] otherwise
    val spark = GraftSession("graft-migrate",
      conf = sys.env.get("SPARK_MASTER").map("spark.master" -> _).toMap)

    try {
      val src = endpoint(cfg.sourceUrl)
      val dst = endpoint(cfg.targetUrl)
      val tables = Pipeline.tableList(cfg.toPipelineConfig, src match {
        // keep source-reported case: lowercasing here broke case-sensitive
        // sources (MySQL lower_case_table_names=0); config-list matching is
        // case-insensitive in Pipeline.tableList instead
        case j: Jdbc => Catalog.listTables(j.url)
        // any file-format source: probe the known table names on disk
        case fileEp => graft.sources.Tables.all
          .filter(t => Transfer.exists(spark, fileEp, t))
      })

      // schema stage now lives inside Pipeline.run (real CREATE TABLEs on
      // JDBC targets, no-op for file targets whose formats carry schema);
      // all stages run under metric tracking with the file/error log split
      val runLog = cfg.toRunLog
      // generated classes compiled by the run: a JDBC → JDBC copy compiles none
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val compiles0 = compiles.getCount
      val (report, metrics) = try ProgressTracker.track(spark) {
        Pipeline.run(spark, src, dst, cfg.toPipelineConfig, tables, runLog)
      } finally runLog.close()

      // summary (manager.go:1752-1771)
      report.stats.foreach(s =>
        println(f"[stage] ${s.stage}%-9s items=${s.items}%-4d ${s.seconds}%8.2f s" +
          (if (s.failures.nonEmpty) s"  FAILURES: ${s.failures.mkString("; ")}" else "")))
      report.results.foreach(r =>
        println(f"[table] ${r.table}%-12s src=${r.srcRows}%-8d dst=${r.dstRows}%-8d " +
          s"checksum=${if (r.checksumMatch) "OK" else "MISMATCH"}"))
      if (report.inconsistent.nonEmpty) {
        println(s"[INCONSISTENT] ${report.inconsistent.map(_.table).mkString(", ")}")
        sys.exit(2)
      }
      val rows = report.results.map(_.dstRows).sum
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[done] ${report.results.size} tables, $rows rows in $secs%.2f s " +
        f"(${rows / math.max(secs, 0.001)}%.0f rows/s; spark: ${metrics.tasks} tasks, " +
        s"${metrics.recordsRead} records read, ${compiles.getCount - compiles0} classes compiled)")
    } finally spark.stop()
  }
}
