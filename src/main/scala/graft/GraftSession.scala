package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is configured: `local[cpus]` with
  * one shuffle partition per core, UTC session time, nanosecond parquet
  * timestamps read as longs (events.parquet; `Tables.load` rebuilds them),
  * no UI, WARN logging. `conf` is applied last, so a caller overrides any
  * of these. AQE is Spark's default and is not restated.
  */
object GraftSession {

  /** Cores per session: `SPARK_GRAFT_CPUS`, else every core of the host. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  def parseCpus(value: Option[String]): Int =
    value.fold(Runtime.getRuntime.availableProcessors) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  def apply(appName: String, cpus: Int = GraftSession.cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val defaults = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = SparkSession.builder().appName(appName).config(defaults ++ conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
