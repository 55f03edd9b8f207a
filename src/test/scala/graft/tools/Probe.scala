package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.pipeline.ProgressTracker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query probes over `SPARK_GRAFT_SF_DIR` (default sf0.001). Usage:
  *   sbt "Test/runMain graft.tools.Probe <time|plan|exch|deep> q1 q2 ..."
  *
  *  - `time`: runs each query twice under Bench's session (cores from
  *    `SPARK_GRAFT_CPUS`) and warm-up, printing one CSV row per run from
  *    `ProgressTracker`: wall time vs jobs, stages, tasks, task time,
  *    deserialize/serialize time and GC. Read the faster row (the first
  *    usually pays JIT/codegen warm-up).
  *      wall >> task_s/cores  --> scheduling/driver overhead dominates
  *      tasks >> rows/64k     --> partition counts oversized for the data
  *    `SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2"` adds confs for A/B runs.
  *  - `plan`: each query's formatted physical plan.
  *  - `exch`: `EXCH <query> <n>`, the planned exchange count PlanBudgetSpec
  *    gates on, for measuring a budget before pinning it.
  *  - `deep`: the formatted plan of EVERY execution a query runs, not just
  *    the returned frame (which for driver-report queries is a trivial
  *    ExistingRDD scan).
  *
  * `plan`, `exch` and `deep` use PlanBudgetSpec's 4-core session.
  */
object Probe {

  /** Exchange operators in the planned (pre-AQE) physical plan. */
  def exchanges(df: DataFrame): Int =
    "Exchange ".r.findAllIn(df.queryExecution.executedPlan.toString).size

  def main(args: Array[String]): Unit = {
    val modes = Set("time", "plan", "exch", "deep")
    require(args.nonEmpty && modes(args(0)),
      s"usage: Probe <${modes.mkString("|")}> q1 q2 ...")
    val mode = args(0)
    val queries = SparkEntry.resolve(args.drop(1).toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark =
      if (mode == "time") GraftSession("probe", conf = Bench.conf ++ extraConf)
      else GraftSession("probe", 4)
    try mode match {
      case "time" => time(spark, dir, queries)
      case "plan" => queries.foreach { case (_, fn) => fn(spark, dir).explain("formatted") }
      case "exch" => queries.foreach { case (n, fn) =>
        println(s"EXCH $n ${exchanges(fn(spark, dir))}") }
      case "deep" => queries.foreach { case (_, fn) => deep(spark, dir, fn) }
    } finally spark.stop()
  }

  private def extraConf: Map[String, String] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(";")).filter(_.nonEmpty)
      .map(pair => pair.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF: malformed pair '$pair' (expected key=value)")
      }).toMap

  private def time(spark: SparkSession, dir: String,
      queries: Seq[(String, SparkEntry.Query)]): Unit = {
    Bench.warmup(spark, dir)
    println("query,run,wall_s,jobs,stages,tasks,task_s,deser_s,gc_s")
    for ((q, fn) <- queries; r <- 1 to 2) {
      val (wall, m) = ProgressTracker.track(spark) {
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$q,$r,$wall%.3f,${m.jobs},${m.stages},${m.tasks}," +
        f"${m.executorRunTimeMs / 1e3}%.3f,${m.serdeMs / 1e3}%.3f,${m.gcMs / 1e3}%.3f")
    }
  }

  private def deep(spark: SparkSession, dir: String, fn: SparkEntry.Query): Unit = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(s"== execution [$funcName, ${durationNs / 1000000} ms]\n" +
          qe.explainString(ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try ProgressTracker.track(spark) {
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    } finally spark.listenerManager.unregister(listener)
    plans.forEach(p => println(p))
  }
}
