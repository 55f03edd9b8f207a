package graft

/** Plan auditor: prints, per driver-contract query, the physical-plan
  * properties that matter at 100 TB — parquet filter pushdown, column
  * pruning (ReadSchema), join strategies, exchange (shuffle) count, and
  * whole-stage-codegen coverage. Run:
  *   sbt "runMain graft.PlanAudit [sfDir] [queryPrefix...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = GraftSession("plan-audit", 4)

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.exists(name.startsWith)) {
        try {
          val df = fn(spark, sfDir)
          // execute THIS queryExecution (count() would plan a separate
          // one) so AQE finalizes and codegen spans exist — but without
          // collect()'s driver materialization of corpus-sized results
          df.queryExecution.toRdd.foreach(_ => ())
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq.distinct
          val schemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq.distinct
          val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct")
            .map(j => j -> j.r.findAllIn(plan).size).filter(_._2 > 0)
          val exchanges = "Exchange ".r.findAllIn(plan).size
          // WholeStageCodegen spans: the *(N) markers in the executed
          // (AQE-final) plan — formatted mode does not carry them
          val codegen = "\\*\\((\\d+)\\)".r
            .findAllMatchIn(df.queryExecution.executedPlan.toString)
            .map(_.group(1).toInt).toSeq.distinct.size
          println(s"== $name")
          println(s"   joins=${joins.map { case (k, v) => s"$k x$v" }.mkString(", ")}" +
            s" exchanges=$exchanges codegenSpans=$codegen")
          pushed.foreach(p => println(s"   $p"))
          schemas.foreach(r => println(s"   ${r.take(160)}"))
        } catch {
          case e: Throwable => println(s"== $name FAILED: ${e.getMessage.take(120)}")
        }
      }
    }
    spark.stop()
  }
}
