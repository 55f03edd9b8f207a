package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** End-to-end drive of the `graft.Migrate` CLI main — the reference's
  * `./mysql2pg -c config.yml` flow (cmd/main.go:16-158): YAML → probe →
  * staged pipeline → summary. MigrateMatrixSpec covers Pipeline.run
  * directly; this covers what main() adds on top: config loading from
  * disk, endpoint parsing, the test_only fast path, and the file-logging
  * wiring. Each run builds (and stops) its own SparkSession, as the real
  * CLI does. */
class MigrateCliSpec extends AnyFunSuite {

  private def writeCfg(dir: String, yaml: String): String = {
    val p = s"$dir/config.yml"
    Files.writeString(Paths.get(p), yaml)
    p
  }

  test("test_only probes connectivity and returns without a Spark session") {
    val dir = Files.createTempDirectory("mcli_probe").toString
    val cfg = writeCfg(dir,
      s"""source_url: /root/testdata/sf0.001
         |target_url: $dir/out
         |test_only: true
         |""".stripMargin)
    Migrate.main(Array("-c", cfg)) // must return fast and not throw
    assert(!Files.exists(Paths.get(s"$dir/out/region.parquet")))
  }

  test("full parquet-to-parquet run lands rows and writes the run log") {
    val dir = Files.createTempDirectory("mcli_full").toString
    val cfg = writeCfg(dir,
      s"""source_url: /root/testdata/sf0.001
         |target_url: $dir/out
         |use_table_list: [region, nation]
         |truncate_before_sync: true
         |validate_data: true
         |enable_file_logging: true
         |log_file_path: $dir/run.log
         |error_log_path: $dir/err.log
         |show_console_logs: false
         |""".stripMargin)
    Migrate.main(Array("-c", cfg))
    // rows landed (read back with a fresh session — main stopped its own)
    val spark = GraftSession("mcli-readback", 2)
    try {
      assert(spark.read.parquet(s"$dir/out/region.parquet").count() == 5)
      assert(spark.read.parquet(s"$dir/out/nation.parquet").count() == 25)
    } finally spark.stop()
    // the run log narrates the stages; the error file is clean
    val log = Files.readAllLines(Paths.get(s"$dir/run.log"))
    for (stage <- Seq("stage schema", "stage data", "stage validate"))
      assert(log.toArray.exists(_.toString.contains(stage)), stage)
    assert(!Files.exists(Paths.get(s"$dir/err.log")) ||
      Files.readAllLines(Paths.get(s"$dir/err.log")).isEmpty)
  }
}
