package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.GlobalOrder

/** Direct contract tests for the distributed two-phase scan: each function
  * must agree exactly with the single-partition window or sequential form
  * it replaces, independent of the range partition count (the session's
  * `spark.sql.shuffle.partitions`), and report the right total.
  */
class GlobalOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession("global-order-spec", 4)

  override def afterAll(): Unit = spark.stop()

  /** Runs `f` with `p` range partitions (the scan reads the session's
    * shuffle partition count), restoring the session's own afterwards. */
  private def withPartitions[T](p: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, p.toString)
    try f finally spark.conf.set(key, saved)
  }

  private def rankMap(df: org.apache.spark.sql.DataFrame, col: String): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getAs[Long](col)).toMap

  private def base = {
    import spark.implicits._
    graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey")
  }

  test("row numbers equal the unpartitioned-window reference") {
    import spark.implicits._
    val expected = base
      .withColumn("rn", row_number()
        .over(Window.orderBy($"o_custkey", $"o_orderkey")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("rn")).toMap
    val (got, total) = GlobalOrder.withRowNumberAndTotal(
      base, Seq($"o_custkey", $"o_orderkey"), "rn")
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getAs[Long]("rn")).toMap
    assert(total == expected.size.toLong)
    assert(gotMap == expected)
  }

  test("partition count does not change the assigned order") {
    import spark.implicits._
    val Seq(a, b) = Seq(1, 7).map(p => withPartitions(p)(rankMap(
      GlobalOrder.withRowNumber(base, Seq($"o_custkey", $"o_orderkey"), "rn"), "rn")))
    assert(a == b)
  }

  test("descending sort keys are honored") {
    import spark.implicits._
    val rows = GlobalOrder.withRowNumber(
      base, Seq($"o_custkey".desc, $"o_orderkey"), "rn")
      .collect().sortBy(_.getAs[Long]("rn"))
    rows.sliding(2).foreach {
      case Array(x, y) =>
        val (cx, cy) = (x.getLong(1), y.getLong(1))
        assert(cx > cy || (cx == cy && x.getLong(0) < y.getLong(0)))
      case _ =>
    }
  }

  test("withRunningMax equals the sequential exclusive prefix max") {
    import spark.implicits._
    // o_custkey as the running value over o_orderkey order: plenty of
    // non-monotone movement to exercise the carry
    val got = GlobalOrder.withRunningMax(
      base, Seq($"o_orderkey"), "o_custkey", "frontier")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("frontier")).toMap
    val seq = base.orderBy($"o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var acc = Long.MinValue
    val expected = seq.map { case (k, v) =>
      val prev = acc; acc = math.max(acc, v); k -> prev
    }.toMap
    assert(got == expected)
    // the first row in the total order carries the no-frontier sentinel
    assert(got(seq.head._1) == Long.MinValue)
    // partition count never changes the carried values
    val p7 = withPartitions(7)(rankMap(GlobalOrder.withRunningMax(
      base, Seq($"o_orderkey"), "o_custkey", "frontier"), "frontier"))
    assert(p7 == expected)
  }

  test("withDenseRank equals the unpartitioned dense_rank window, with total") {
    import spark.implicits._
    // modulo keys force plenty of ties, including runs that straddle the
    // range-partition boundaries the driver merge must stitch
    val df = base.select($"o_orderkey",
      ($"o_custkey" % 17L).as("k1"), ($"o_orderkey" % 5L).as("k2"))
    val expected = df
      .withColumn("dr", dense_rank()
        .over(Window.orderBy($"k1", $"k2")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("dr")).toMap
    val nDistinct = df.select($"k1", $"k2").distinct().count()
    val (got, total) = GlobalOrder.withDenseRank(df, Seq("k1", "k2"), "dr")
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getAs[Long]("dr")).toMap
    assert(total == nDistinct)
    assert(gotMap == expected)
    // partition count never changes the assigned ranks (boundary stitch)
    for (p <- Seq(1, 7)) withPartitions(p) {
      val (gp, tp) = GlobalOrder.withDenseRank(df, Seq("k1", "k2"), "dr")
      assert(tp == nDistinct)
      assert(rankMap(gp, "dr") == expected, s"partitions=$p")
    }
  }

  test("withDenseRank on nullable LONG keys: null and 0 rank apart, nulls first") {
    import spark.implicits._
    // lead() keys are nullable LONGs (q364's r2): nulls, zeros and
    // non-zeros all tie in runs, so a null read as 0 would merge ranks
    val df = base.select($"o_orderkey",
      ($"o_custkey" % 3L).as("k1"),
      when($"o_orderkey" % 4L === 0L, lit(null).cast("long"))
        .otherwise($"o_orderkey" % 2L).as("k2"))
    assert(df.schema("k2").nullable)
    val w = Window.orderBy($"k1".asc_nulls_first, $"k2".asc_nulls_first)
    val expected = df.withColumn("dr", dense_rank().over(w).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("dr")).toMap
    val nDistinct = df.select($"k1", $"k2").distinct().count()
    assert(nDistinct == 9, "3 k1 values × {null, 0, 1}")
    for (p <- Seq(4, 1, 7)) withPartitions(p) { // 4: the session's own
      val (got, total) = GlobalOrder.withDenseRank(df, Seq("k1", "k2"), "dr")
      assert(total == nDistinct, s"partitions=$p")
      assert(rankMap(got, "dr") == expected, s"partitions=$p")
    }
  }

  test("withDenseRank on STRING keys (the q364 radix shape)") {
    import spark.implicits._
    // text keys with heavy ties, exactly how the suffix array's radix
    // rank uses it (substring prefixes as the key column)
    val df = base.select($"o_orderkey",
      concat(lit("k"), ($"o_custkey" % 23L)).as("k1"))
    val expected = df
      .withColumn("dr", dense_rank().over(Window.orderBy($"k1")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("dr")).toMap
    val nDistinct = df.select($"k1").distinct().count()
    val (got, total) = withPartitions(5)(GlobalOrder.withDenseRank(df, Seq("k1"), "dr"))
    assert(total == nDistinct)
    assert(rankMap(got, "dr") == expected)
  }

  test("withDenseRank on DOUBLE keys: NaN ties NaN and -0.0 ties 0.0, as dense_rank()") {
    import spark.implicits._
    val df = Seq(Double.NaN, 0.0, Double.NaN, -0.0, 1.5, Double.NaN, 1.5)
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val expected = rankMap(
      df.withColumn("dr", dense_rank().over(Window.orderBy($"k")).cast("long")), "dr")
    val nDistinct = df.select($"k").distinct().count()
    assert(nDistinct == 3 && expected.values.toSet == Set(1L, 2L, 3L))
    for (p <- Seq(1, 3)) withPartitions(p) {
      val (got, total) = GlobalOrder.withDenseRank(df, Seq("k"), "dr")
      assert(total == nDistinct, s"partitions=$p")
      assert(rankMap(got, "dr") == expected, s"partitions=$p")
    }
  }

  test("withRowNumber on a nullable sort key equals row_number(), nulls first") {
    import spark.implicits._
    val df = base.select($"o_orderkey",
      when($"o_orderkey" % 4L === 0L, lit(null).cast("long"))
        .otherwise($"o_custkey" % 7L).as("nk"))
    val order = Seq($"nk".asc_nulls_first, $"o_orderkey")
    val expected = rankMap(
      df.withColumn("rn", row_number().over(Window.orderBy(order: _*)).cast("long")), "rn")
    for (p <- Seq(1, 7)) withPartitions(p) {
      assert(rankMap(GlobalOrder.withRowNumber(df, order, "rn"), "rn") == expected,
        s"partitions=$p")
    }
  }

  test("withRowNumber on a STRING sort key equals row_number() (byte order)") {
    import spark.implicits._
    // "k10" sorts before "k9": the string order, not the numeric one
    val df = base.select($"o_orderkey", format_string("k%d", $"o_orderkey").as("sk"))
    val expected = rankMap(
      df.withColumn("rn", row_number().over(Window.orderBy($"sk")).cast("long")), "rn")
    val (got, total) = GlobalOrder.withRowNumberAndTotal(df, Seq($"sk"), "rn")
    assert(total == expected.size.toLong)
    assert(rankMap(got, "rn") == expected)
  }

  test("withRunningSum equals the sequential inclusive prefix sum, with grand total") {
    import spark.implicits._
    val seq = base.orderBy($"o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var acc = 0L
    val expected = seq.map { case (k, v) => acc += v; k -> acc }.toMap
    for (p <- Seq(1, 7)) withPartitions(p) {
      val (got, total) = GlobalOrder.withRunningSum(
        base, Seq($"o_orderkey"), "o_custkey", "cum")
      assert(total == acc, s"partitions=$p")
      assert(rankMap(got, "cum") == expected, s"partitions=$p")
    }
  }

  test("withRunningSum names the value column when it holds a NULL") {
    import spark.implicits._
    val df = base.select($"o_orderkey",
      when($"o_orderkey" % 97L === 0L, lit(null).cast("long")).otherwise($"o_custkey").as("v"))
    val e = intercept[Exception](GlobalOrder.withRunningSum(df, Seq($"o_orderkey"), "v", "cum"))
    val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
    assert(iae.exists(_.getMessage.contains("NULL in value column 'v'")), e.toString)
  }
}
