package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Task-time vs wall-time instrumentation for the 32-core anti-scaling
  * investigation (round-16 item #1): runs each named SparkEntry query
  * under the EXACT Bench session config (same master/shuffle-partition
  * contract via SPARK_GRAFT_CPUS, same maxPartitionBytes, same AQE flag)
  * with a SparkListener accumulating, per query:
  *   jobs, stages, tasks, sum of task run times, sum of scheduler-visible
  *   task deserialize/serialize overhead, GC time and wall time. Each query
  *   runs twice and both runs are printed, one CSV row each; read the
  *   faster row (the first one usually pays JIT/codegen warm-up).
  *
  * wall >> taskTime/cores  --> scheduling/driver overhead dominates
  * tasks >> rows/64k       --> partition counts oversized for the data
  *
  * Extra spark confs can be injected through SPARK_GRAFT_EXTRA_CONF
  * ("k1=v1;k2=v2") to A/B e.g. AQE coalescing settings without editing
  * the harness; a pair without '=' or with an empty key is rejected by
  * name. Unknown query names are rejected before the session starts,
  * with the closest valid names. Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.tools.ScaleProbe q133_curriculum ..."
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val known = graft.SparkEntry.queries.keySet
    val unknown = args.filterNot(known)
    require(unknown.isEmpty, unknown.map(q =>
      s"unknown query '$q'; closest: ${closest(q, known).mkString(", ")}").mkString("; "))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", String.valueOf(4L << 20))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { kv =>
      kv.split(";").filter(_.nonEmpty).foreach { pair =>
        pair.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => b = b.config(k.trim, v)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_EXTRA_CONF: malformed pair '$pair' (expected key=value)")
        }
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same warmup block as Bench
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType, nullable = false))
      .selectExpr("sum(id)").collect()
    graft.operators.GlobalOrder.withRowNumber(
      spark.range(100).toDF(), Seq(org.apache.spark.sql.functions.col("id")), "rn")
      .count()

    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val taskMs = new LongAdder
    val deserMs = new LongAdder; val gcMs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.add(m.executorRunTime)
          deserMs.add(m.executorDeserializeTime + m.resultSerializationTime)
          gcMs.add(m.jvmGCTime)
        }
      }
    })

    println(f"query,run,wall_s,jobs,stages,tasks,task_s,deser_s,gc_s")
    args.foreach { q =>
      (1 to 2).foreach { r =>
        jobs.set(0); stages.set(0); tasks.set(0)
        taskMs.reset(); deserMs.reset(); gcMs.reset()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // allow the async listener bus to drain before reading counters
        Thread.sleep(800)
        println(f"$q,$r,$wall%.3f,${jobs.get},${stages.get},${tasks.get}," +
          f"${taskMs.sum / 1e3}%.3f,${deserMs.sum / 1e3}%.3f,${gcMs.sum / 1e3}%.3f")
      }
    }
    spark.stop()
  }

  /** The three query names nearest to `q`: a name containing it (e.g. the
    * bare `q133` of `q133_curriculum`) first, then by edit distance. */
  private def closest(q: String, known: Set[String]): Seq[String] =
    known.toSeq.sortBy(k => (!k.contains(q), editDistance(q, k), k)).take(3)

  private def editDistance(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }
}
