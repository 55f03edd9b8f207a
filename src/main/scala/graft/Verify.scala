package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Under
  * `SPARK_GRAFT_ONLY` both cover the selected queries only. Exits 1, naming
  * them, when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = SparkEntry.selected
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // queries are independent Spark jobs; submit a few concurrently so the
    // scheduler overlaps their stages (cuts gate wall time ~2-3x)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val futures = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed.add(name)
        }
      }
    }
    futures.foreach(f => scala.concurrent.Await.ready(f,
      scala.concurrent.duration.Duration.Inf))
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (!failed.isEmpty) {
      System.err.println(s"[verify] FAILED ${failed.size}: " +
        failed.toArray(Array.empty[String]).sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
