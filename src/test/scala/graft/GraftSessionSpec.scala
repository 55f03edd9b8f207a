package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("the effective conf: local[n], n shuffle partitions, UTC, nanosAsLong, no UI, AQE") {
    val spark = GraftSession("graft-session-spec", 3)
    try {
      assert(spark.sparkContext.master == "local[3]")
      val conf = spark.conf
      assert(conf.get("spark.sql.shuffle.partitions") == "3")
      assert(conf.get("spark.sql.session.timeZone") == "UTC")
      assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(conf.get("spark.ui.enabled") == "false")
      assert(conf.get("spark.sql.adaptive.enabled") == "true") // Spark's default
    } finally spark.stop()
  }

  test("a conf entry overrides a default") {
    val spark = GraftSession("graft-session-spec", 3,
      Map("spark.sql.shuffle.partitions" -> "7", "spark.sql.session.timeZone" -> "Asia/Tokyo"))
    try {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      assert(spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo")
    } finally spark.stop()
  }

  test("SPARK_GRAFT_CPUS: a positive integer, else every core; anything else is named") {
    assert(GraftSession.parseCpus(Some("6")) == 6)
    assert(GraftSession.parseCpus(Some(" 2 ")) == 2)
    assert(GraftSession.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    for (bad <- Seq("abc", "0", "-4", "", "2.5")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("query names: unknown names are rejected with the closest ones") {
    assert(SparkEntry.resolve(Seq("q03_join_agg", "q01_pricing_summary")).map(_._1) ==
      Seq("q03_join_agg", "q01_pricing_summary"))
    assert(SparkEntry.resolve(Nil).size == SparkEntry.queries.size)
    val e = intercept[IllegalArgumentException](SparkEntry.resolve(Seq("q01_pricing", "q999_nope")))
    assert(e.getMessage.contains("unknown query 'q01_pricing'; closest: q01_pricing_summary"))
    assert(e.getMessage.contains("unknown query 'q999_nope'"))
  }
}
