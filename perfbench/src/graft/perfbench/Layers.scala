package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The traced run: spans around every public call plus a benchmark-owned
  * SparkListener per pass, reduced to one figure per layer (the median over
  * traced passes). Figures of layers a workload does not touch are 0. */
final class Layers(o: Main.Opts, spark: SparkSession) {
  private val tracer = new Tracer
  private val fileModule = LayerListener.moduleMap(Main.programRoot, Main.benchRoot)
  private val listeners = ArrayBuffer[LayerListener]()

  def tracedPass(wl: Workload): PassResult = {
    val l = new LayerListener(fileModule)
    spark.sparkContext.addSparkListener(l)
    try tracer.passSpan(listeners.size + 1)(wl.pass(spark, Some(tracer)))
    finally {
      org.apache.spark.PerfbenchSpark.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      listeners += l
    }
  }

  /** Spans and Spark jobs of every traced pass, as JSON lines under `dir`. */
  def write(dir: Path, prefix: String): Unit = {
    tracer.writeJsonl(dir.resolve(s"$prefix-spans.jsonl"))
    val lines = listeners.zipWithIndex.flatMap { case (l, i) =>
      l.jobList.map(j =>
        s"""{"pass":${i + 1},"job":${j.id},"site":"${j.site.replace("\"", "'")}",""" +
        s""""module":"${j.module}","start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks}}""")
    }
    java.nio.file.Files.write(dir.resolve(s"$prefix-jobs.jsonl"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines.toSeq).asJava)
  }

  /** Wall time in [startMs, endMs] during which no Spark job was running. */
  private def driverOnlyMs(startMs: Double, endMs: Double, jobs: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var cursor = startMs
    jobs.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cursor) { covered += e - math.max(s, cursor); cursor = e }
      }
    (endMs - startMs) - covered
  }

  /** The writer calls of `Transfer.write`, one per endpoint kind. */
  private val writeMethods = Set("save", "parquet", "csv", "json", "orc")

  /** Per-layer figures of traced pass `p` (1-based). */
  private def passFigures(p: Int, r: PassResult): Map[String, Double] = {
    val spans = tracer.of(p)
    val l = listeners(p - 1)
    val jobs = l.jobList
    def sum(prefix: String, pred: Span => Boolean = _ => true) =
      spans.filter(s => s.name.startsWith(prefix) && pred(s)).map(_.seconds).sum
    val execMs = spans.filter(_.name == "catalog.executeDdl").map(_.seconds * 1000)
    val tjobs = jobs.filter(_.module == "transfer")
    def jobSecs(js: Seq[l.Job]) = js.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1000.0).sum
    val writes = tjobs.filter(j => writeMethods(j.method))
    // jobs launched from the benchmark's own files are the queries' final
    // aggregates: the execution of every lazily built query plan
    val sparkCounters = for {
      (module, prefix) <- Seq("transfer" -> "transfer", "ops" -> "ops",
        "operators" -> "operators", "sources" -> "sources", "bench" -> "query")
      c = l.counter(module)
      (k, v) <- Seq("jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble,
        "task_s" -> c.taskMs / 1000.0, "gc_s" -> c.gcMs / 1000.0,
        "shuffle_mb" -> c.shuffleBytes / 1e6, "spill_mb" -> c.spillBytes / 1e6)
    } yield s"$prefix.$k" -> v
    val jobIntervals = jobs.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble))
    val querySpans = spans.filter(s => s.name.startsWith("query.") &&
      (s.name.endsWith(".build") || s.name.endsWith(".exec")))
    val perQuery = Main.suiteQueries.flatMap { q =>
      Seq(s"query.$q.build_s" -> sum(s"query.$q.build"), s"query.$q.exec_s" -> sum(s"query.$q.exec"))
    }
    val landed = r.items
    Map(
      "catalog.calls" -> spans.count(_.name.startsWith("catalog.")).toDouble,
      "catalog.scan_s" -> sum("catalog.", _.name != "catalog.executeDdl"),
      "catalog.exec_ddl_s" -> execMs.sum / 1000.0,
      "catalog.exec_ddl_p50_ms" -> Main.percentile(execMs, 0.5),
      "catalog.exec_ddl_p90_ms" -> Main.percentile(execMs, 0.9),
      "catalog.target_tables_per_source" -> r.figures.getOrElse("catalog.target_tables_per_source", 0.0),
      "ddl.emit_s" -> sum("ddl."),
      "sqlrewrite.rewrite_s" -> sum("sqlrewrite."),
      "transfer.copy_table_s" -> sum("transfer.copyTable"),
      "transfer.src_count_s" -> jobSecs(tjobs.filter(_.method == "count")),
      "transfer.write_s" -> jobSecs(writes),
      "transfer.validate_s" -> jobSecs(tjobs.filter(_.method == "collect")),
      "transfer.write_tasks" -> writes.map(_.tasks).sum.toDouble,
      "transfer.bytes_written_mb" -> l.counter("transfer").bytesWritten / 1e6,
      "transfer.rows_read_per_row_landed" ->
        (if (r.figures.contains("rows_landed") && landed > 0)
          l.counter("transfer").recordsRead / landed else 0.0),
      "query.build_s" -> querySpans.filter(_.name.endsWith(".build")).map(_.seconds).sum,
      "query.exec_s" -> querySpans.filter(_.name.endsWith(".exec")).map(_.seconds).sum,
      "query.driver_only_s" -> querySpans.map(s =>
        driverOnlyMs(s.startMs, s.endMs, jobIntervals)).sum / 1000.0
    ) ++ sparkCounters ++ perQuery
  }

  /** Median per-layer figures over the traced passes; the pipeline stage
    * times and the generated-class compiles come from the untraced passes. */
  def metrics(untraced: Seq[PassResult], traced: Seq[PassResult]): Seq[(String, Double, String)] = {
    val per = traced.zipWithIndex.map { case (r, i) => passFigures(i + 1, r) }
    val fromUntraced = Seq("schema", "views", "data", "validate", "indexes", "functions",
      "users", "privileges").map(s => s"pipeline.${s}_s") :+ "codegen.compiles"
    val untracedFigs = fromUntraced.map(k => k -> Main.median(untraced.map(_.figures.getOrElse(k, 0.0))))
    val layerFigs = per.head.keys.toSeq.sorted.map(k => k -> Main.median(per.map(_(k))))
    (untracedFigs ++ layerFigs).map { case (k, v) => (k, v, Layers.unit(k)) }
  }
}

object Layers {
  def unit(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_pct")) "%"
    else if (k.endsWith("per_source") || k.endsWith("per_row_landed")) "ratio"
    else "count"
}
