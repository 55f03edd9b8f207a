package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.transfer.Transfer
import graft.transfer.Transfer.{Jdbc, ParquetDir}
import graft.pipeline.Pipeline
import graft.functions.PointDecode
import java.nio.file.Files

class TransferSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession("transfer-spec", 4)

  override def afterAll(): Unit = spark.stop()

  test("parquet -> parquet copy validates counts and checksum") {
    val dst = ParquetDir(Files.createTempDirectory("xfer_pq").toString)
    val r = Transfer.copyTable(spark, ParquetDir(sf), dst, "orders")
    assert(r.srcRows == 1500 && r.dstRows == 1500 && r.checksumMatch)
  }

  test("csv/json/orc endpoints round-trip with matching checksums") {
    import graft.transfer.Transfer.{CsvDir, JsonDir, OrcDir}
    val srcSchema = Transfer.read(spark, ParquetDir(sf), "customer").schema
    // customer: strings with commas/quotes exercise CSV escaping
    val csv = CsvDir(Files.createTempDirectory("xfer_csv").toString, Some(srcSchema))
    val rc = Transfer.copyTable(spark, ParquetDir(sf), csv, "customer")
    assert(rc.srcRows == 150 && rc.dstRows == 150 && rc.checksumMatch, "csv")
    val json = JsonDir(Files.createTempDirectory("xfer_js").toString, Some(srcSchema))
    val rj = Transfer.copyTable(spark, ParquetDir(sf), json, "customer")
    assert(rj.srcRows == 150 && rj.dstRows == 150 && rj.checksumMatch, "json")
    // orders: timestamp column through the lossless columnar path
    val orc = OrcDir(Files.createTempDirectory("xfer_orc").toString)
    val ro = Transfer.copyTable(spark, ParquetDir(sf), orc, "orders")
    assert(ro.srcRows == 1500 && ro.dstRows == 1500 && ro.checksumMatch, "orc")
    // exists() sees the written file endpoints
    assert(Transfer.exists(spark, csv, "customer"))
    assert(!Transfer.exists(spark, csv, "nation"))
  }

  test("q239 format round trip: per-format checksums equal the source's") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.TransferOps.q239FormatRoundtrip(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("csv", "json", "orc"), out.toSeq)
    // driver replay: recompute the checksum tuple straight from parquet —
    // every format's read-back must have produced exactly this
    val exp = Transfer.read(spark, ParquetDir(sf), "customer").agg(
      count(lit(1)), sum(col("c_custkey")),
      sum(col("c_nationkey").cast("long")),
      sum(graft.functions.Exact.cents(col("c_acctbal"))),
      sum((length(col("c_name")) + length(col("c_mktsegment"))).cast("long")))
      .collect().head
    out.foreach { r =>
      assert((1 to 5).forall(i => r.getLong(i) == exp.getLong(i - 1)),
        s"${r.getString(0)}: $r vs $exp")
    }
  }

  test("q281 dataset dedup: permuted copy collides, mutated copy and stranger do not") {
    import graft.functions.Fingerprint
    val out = graft.operators.TransferOps.q281DatasetDedup(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getString(4))).toMap
    assert(out.keySet == Set("customer", "customer_perm", "customer_mut", "nation"))
    // the column-permuted row-shuffled copy carries the IDENTICAL signature
    // and resolves to customer; the one-cent mutation breaks xor AND sum at
    // equal n_rows; the unrelated table matches nothing
    assert(out("customer_perm")._1 == out("customer")._1)
    assert(out("customer")._2 == "customer" && out("customer_perm")._2 == "customer")
    assert(out("customer_mut")._1._1 == out("customer")._1._1)
    assert(out("customer_mut")._1._2 != out("customer")._1._2)
    assert(out("customer_mut")._1._3 != out("customer")._1._3)
    assert(out("customer_mut")._2 == "customer_mut" && out("nation")._2 == "nation")
    // driver replay of the canonical recipe: name-sorted columns
    // (acctbal_cents|custkey|name|nationkey), '|'-joined, fingerprinted
    val rows = Transfer.read(spark, ParquetDir(sf), "customer")
      .selectExpr("CAST(round(c_acctbal * 100) AS BIGINT) AS a",
        "CAST(c_custkey AS BIGINT) AS k", "c_name AS n",
        "CAST(c_nationkey AS BIGINT) AS t").collect()
    val fps = rows.map(r => Fingerprint.hashString(
      s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|${r.getLong(3)}"))
    val expect = (fps.length.toLong, fps.foldLeft(0L)(_ ^ _), fps.sum)
    assert(out("customer")._1 == expect, s"replay $expect vs ${out("customer")._1}")
  }

  test("q284 merkle diff: the walk opens exactly the path to the mutated bucket") {
    import graft.functions.Fingerprint
    val got = graft.operators.TransferOps.q284MerkleDiff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    // descent path 0 -> 2 -> 8 -> 32: one differing node per level, the
    // root compare + 4 children per differing parent = 13 of 85 touched
    assert(got == Seq((0L, 1L, 1L, 1L, 0L), (1L, 4L, 4L, 1L, 2L),
      (2L, 16L, 4L, 1L, 8L), (3L, 64L, 4L, 1L, 32L)), got)
    // independent leaf check straight from the raw rows: the A/B row-
    // fingerprint sums diverge in bucket 32 and nowhere else
    val rows = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_orderkey AS BIGINT) AS k", "CAST(o_custkey AS BIGINT) AS c",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents", "o_orderstatus AS st")
      .collect()
    val perBucket = rows.groupBy(r => r.getLong(0) % 64).map { case (b, rs) =>
      val fa = rs.map(r => Fingerprint.hashString(
        s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}|${r.getString(3)}")).sum
      val fb = rs.map { r =>
        val cents = r.getLong(2) + (if (r.getLong(0) % 64 == 32) 1 else 0)
        Fingerprint.hashString(s"${r.getLong(0)}|${r.getLong(1)}|$cents|${r.getString(3)}")
      }.sum
      b -> (fa == fb)
    }
    assert(perBucket.size == 64)
    assert(perBucket.collect { case (b, equal) if !equal => b }.toSet == Set(32L))
  }

  test("q380 retract IVM: plant classes land, full driver replay, audit is zero") {
    import graft.operators.TransferOps
    import graft.functions.Fingerprint
    val rows = TransferOps.q380RetractIvm(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the in-query audit already proves maintained == full recompute;
    // pin it and the plant-dropped group
    assert(rows("7_mismatch_groups") == 0L)
    assert(rows("6_dropped_groups") >= 1L)
    assert(rows("2_groups_after") ==
      rows("1_groups_before") - rows("6_dropped_groups"))
    // full driver replay from the raw feed, including every plant class
    val feed = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_custkey AS BIGINT) AS ck",
        "CAST(o_orderkey AS BIGINT) AS okey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ++
      TransferOps.RetractPlantFeed
    val delSet = TransferOps.RetractPlantDeleted.toSet
    def isDel(ok: Long): Boolean = (ok > 0 && ok % 23 == 7) || delSet(ok)
    val byCk = feed.groupBy(_._1)
    var (dirtyMn, dirtyMx, dropped, del) = (0L, 0L, 0L, 0L)
    var fpSum = 0L
    byCk.foreach { case (ck, g) =>
      val all = g.map(_._3)
      val dels = g.filter(r => isDel(r._2)).map(_._3)
      val keep = g.filter(r => !isDel(r._2)).map(_._3)
      del += dels.length
      if (keep.isEmpty) dropped += 1L
      else {
        if (dels.nonEmpty && dels.min == all.min) dirtyMn += 1L
        if (dels.nonEmpty && dels.max == all.max) dirtyMx += 1L
        // the maintained view row must equal the from-scratch recompute
        // (min/max via the dirty-aware path): replay the maintenance
        val n = keep.length.toLong; val sm = keep.sum
        val mn = if (dels.nonEmpty && dels.min == all.min) keep.min else all.min
        val mx = if (dels.nonEmpty && dels.max == all.max) keep.max else all.max
        assert(mn == keep.min && mx == keep.max, s"group $ck")
        fpSum += Fingerprint.hashString(s"$ck|$n|$sm|$mn|$mx")
      }
    }
    assert(rows("1_groups_before") == byCk.size.toLong)
    assert(rows("3_rows_deleted") == del)
    assert(rows("4_dirty_min_groups") == dirtyMn)
    assert(rows("5_dirty_max_groups") == dirtyMx)
    assert(rows("6_dropped_groups") == dropped)
    assert(rows("8_view_fp_sum") == fpSum)
    // the four planted classes, by construction
    def cls(ck: Long): (Boolean, Boolean, Boolean) = {
      val g = feed.filter(_._1 == ck)
      val dels = g.filter(r => isDel(r._2)).map(_._3)
      val keep = g.filter(r => !isDel(r._2)).map(_._3)
      (dels.nonEmpty && keep.nonEmpty && dels.min == g.map(_._3).min,
        dels.nonEmpty && keep.nonEmpty && dels.max == g.map(_._3).max,
        keep.isEmpty)
    }
    assert(cls(-38001L) == ((true, false, false)))  // min deleted
    assert(cls(-38002L) == ((false, true, false)))  // max deleted
    assert(cls(-38003L) == ((false, false, false))) // pure subtraction
    assert(cls(-38004L) == ((false, false, true)))  // group vanishes
  }

  test("q287 incremental join: the delta decomposition reconciles with the direct view") {
    val rows = graft.operators.TransferOps.q287IncrJoin(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet.size == 6)
    val termSum = (1 to 4).map(i => rows.keys.find(_.startsWith(s"${i}_")).get)
      .map(rows).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(termSum == rows("5_v_incremental"))
    assert(rows("5_v_incremental") == rows("6_v_direct"))
    // every term genuinely contributes (the splits are non-degenerate)
    (1 to 4).foreach { i =>
      val t = rows.keys.find(_.startsWith(s"${i}_")).get
      assert(rows(t)._1 > 0L, s"term $t empty")
    }
    // driver replay of the term counts straight from the raw tables
    val oks = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_orderkey AS BIGINT)", "CAST(o_custkey AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cks = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("CAST(c_custkey AS BIGINT)").collect().map(_.getLong(0)).toSet
    def cnt(da: Boolean, db: Boolean): Long = oks.count { case (ok, ck) =>
      cks.contains(ck) && (ok % 13 == 0) == da && (ck % 7 == 0) == db
    }.toLong
    assert(rows("1_v_old")._1 == cnt(da = false, db = false))
    assert(rows("2_delta_a_join_b")._1 == cnt(da = true, db = false))
    assert(rows("3_a_join_delta_b")._1 == cnt(da = false, db = true))
    assert(rows("4_delta_a_join_delta_b")._1 == cnt(da = true, db = true))
  }

  test("q299 time-in-state: interval durations and TWA replay from raw orders") {
    val got = graft.operators.TransferOps.q299TimeInState(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // replay: SCD2 intervals per customer, horizon = global max valid_from
    val rows = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_custkey AS BIGINT)", "CAST(o_orderkey AS BIGINT)",
        "o_orderstatus", "CAST(round(o_totalprice * 100) AS BIGINT)",
        "CAST(o_orderdate AS DATE)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDate(4).toLocalDate))
    val horizon = rows.map(_._5).max
    val intervals = rows.groupBy(_._1).values.flatMap { vs =>
      val sorted = vs.sortBy(v => (v._5.toEpochDay, v._2))
      sorted.zipWithIndex.map { case ((_, _, st, cents, from), i) =>
        val to = if (i + 1 < sorted.length) sorted(i + 1)._5 else horizon
        (st, cents, to.toEpochDay - from.toEpochDay)
      }
    }.toSeq
    val allDays = intervals.map(_._3).sum
    val expect = intervals.groupBy(_._1).map { case (st, is) =>
      val td = is.map(_._3).sum
      st -> (is.size.toLong, td, td * 1000000L / allDays,
        if (td > 0) is.map(v => v._2 * v._3).sum / td else -1L)
    }
    assert(got == expect)
    // shares partition all tracked time (floor division loses < 1 ppm each)
    val shareSum = got.values.map(_._3).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - got.size)
  }

  test("q309 bitemporal: batches accumulate, corrections restate only at t=2") {
    val got = graft.operators.TransferOps.q309Bitemporal(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val rows = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_orderkey AS BIGINT)", "o_orderstatus",
        "CAST(round(o_totalprice * 100) AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // replay: as known at t, the latest version within tx <= t
    (0L to 2L).foreach { t =>
      val known = rows.filter(_._1 % 3 <= t)
      known.groupBy(_._2).foreach { case (st, rs) =>
        val rev = rs.map { case (k, _, c) =>
          if (t == 2L && k % 10 == 0) c + 100L else c
        }.sum
        assert(got((t, st)) == ((rs.length.toLong, rev)), s"t=$t $st")
      }
    }
    // history is preserved: the pre-correction report at t=1 is exactly
    // the original prices (no +100 leaks backward), and t=2 restates by
    // precisely 100 cents per corrected order known at t=2
    val restated = rows.filter(r => r._1 % 10 == 0).map(_._2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    restated.foreach { case (st, n) =>
      val pre = rows.filter(r => r._2 == st && r._1 % 3 <= 2).map(_._3).sum
      assert(got((2L, st))._2 == pre + 100L * n, st)
    }
  }

  test("parquet -> Derby JDBC roundtrip (real database)") {
    val db = Files.createTempDirectory("derbydb").toString + "/g"
    val url = s"jdbc:derby:$db;create=true"
    val jdbc = Jdbc(url, "%s", partitionColumn = None, batchSize = 500)
    val r = Transfer.copyTable(spark, ParquetDir(sf), jdbc, "nation",
      truncate = false, validateChecksum = false)
    assert(r.srcRows == 25 && r.dstRows == 25)
    // partitioned (keyset-equivalent) read back out of the database
    val part = Transfer.read(spark, Jdbc(url, "%s",
      partitionColumn = Some("n_nationkey"), numPartitions = 4), "nation")
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == 25)
  }

  test("empty-table shortcut") {
    import spark.implicits._
    val src = ParquetDir(Files.createTempDirectory("xfer_empty_src").toString)
    val dst = ParquetDir(Files.createTempDirectory("xfer_empty_dst").toString)
    Seq.empty[(Long, String)].toDF("id", "v")
      .write.parquet(s"${src.dir}/t0.parquet")
    val r = Transfer.copyTable(spark, src, dst, "t0")
    assert(r.srcRows == 0 && r.dstRows == 0 && r.checksumMatch)
  }

  /** A fresh on-disk Derby database with one `t (id BIGINT, v VARCHAR(20))`
    * table holding `rows` rows, created through plain JDBC. */
  private def derbyTable(prefix: String, rows: Int): String = {
    val url = s"jdbc:derby:${Files.createTempDirectory(prefix)}/d;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute("CREATE TABLE t (id BIGINT, v VARCHAR(20))")
      val ins = conn.prepareStatement("INSERT INTO t VALUES (?, ?)")
      for (i <- 1 to rows) { ins.setLong(1, i); ins.setString(2, s"v$i"); ins.addBatch() }
      if (rows > 0) ins.executeBatch()
    } finally conn.close()
    url
  }

  test("copyTable from JDBC: one job per side, no cache, counts match the database") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val srcUrl = derbyTable("xfer_scan_src", 200)
    val dstUrl = s"jdbc:derby:${Files.createTempDirectory("xfer_scan_dst")}/d;create=true"
    val (src, dst) = (Jdbc(srcUrl, "%s"), Jdbc(dstUrl, "%s"))
    // every job/plan between here and the marker job is copyTable's: the
    // listener bus is FIFO, so once the marker's start arrives, all of
    // copyTable's events have been delivered
    val tag = "graft.test.phase"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.properties.getProperty(tag, ""))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val r = try {
      sc.setLocalProperty(tag, "copy")
      val r = Transfer.copyTable(spark, src, dst, "t")
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      r
    } finally { sc.setLocalProperty(tag, null); sc.removeSparkListener(listener) }
    assert(jobs.contains("marker"), "listener bus did not drain")
    val copyJobs = jobs.toArray.count(_ == "copy")
    assert(copyJobs == 2, s"expected the write and the read-back, saw $copyJobs jobs")
    assert(!plans.isEmpty)
    plans.forEach(p => assert(!p.contains("InMemoryRelation"), p))
    val dbRows = graft.catalog.Catalog.rowCount(srcUrl, "t")
    assert(dbRows == 200)
    assert(r == Transfer.TransferResult("t", dbRows, dbRows, checksumMatch = true))
    assert(graft.catalog.Catalog.rowCount(dstUrl, "t") == dbRows)
    // one changed target value keeps the counts equal; only the checksum sees it
    val conn = java.sql.DriverManager.getConnection(dstUrl)
    try assert(conn.createStatement().executeUpdate("UPDATE t SET v = 'zz' WHERE id = 7") == 1)
    finally conn.close()
    val v = Transfer.validate(spark, src, dst, "t")
    assert(v.srcRows == 200 && v.dstRows == 200 && !v.checksumMatch)
  }

  test("empty inputs: stats, copyTable and validate return (0, 0, true)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(none.rdd.getNumPartitions == 0)
    assert(Transfer.stats(none) == (0L, 0L))
    val empty = Transfer.TransferResult("t", 0L, 0L, checksumMatch = true)
    // JDBC: no empty-table shortcut, the normal write-and-verify path
    val jsrc = Jdbc(derbyTable("xfer_none_src", 0), "%s")
    val jdst = Jdbc(s"jdbc:derby:${Files.createTempDirectory("xfer_none_dst")}/d;create=true", "%s")
    assert(Transfer.copyTable(spark, jsrc, jdst, "t") == empty)
    assert(Transfer.validate(spark, jsrc, jdst, "t") == empty)
    val psrc = ParquetDir(Files.createTempDirectory("xfer_none_psrc").toString)
    val pdst = ParquetDir(Files.createTempDirectory("xfer_none_pdst").toString)
    Seq.empty[(Long, String)].toDF("id", "v").write.parquet(s"${psrc.dir}/t.parquet")
    assert(Transfer.copyTable(spark, psrc, pdst, "t") == empty)
    assert(Transfer.validate(spark, psrc, pdst, "t") == empty)
  }

  test("zero-date strings become NULL in flight") {
    import spark.implicits._
    val df = Seq(("0000-00-00 00:00:00", "2020-01-02"), ("x", "0000-00-00"))
      .toDF("a", "b")
    val out = Transfer.zeroDatesToNull(df).collect()
    assert(out(0).isNullAt(0) && out(0).getString(1) == "2020-01-02")
    assert(out(1).getString(0) == "x" && out(1).isNullAt(1))
  }

  test("WKB point decode expression (MySQL 25-byte + bare WKB + garbage)") {
    import spark.implicits._
    PointDecode.register(spark)
    val rows = Seq(
      PointDecode.encode(116.397, 39.909),          // SRID-prefixed
      PointDecode.encode(-1.5, 2.5).drop(4),        // bare WKB
      Array[Byte](1, 2, 3))                         // garbage
      .toDF("p")
      .selectExpr("graft_point_decode(p) AS pt")
      .collect()
    assert(rows(0).getStruct(0).getDouble(0) == 116.397)
    assert(rows(0).getStruct(0).getDouble(1) == 39.909)
    assert(rows(1).getStruct(0).getDouble(0) == -1.5)
    assert(rows(2).isNullAt(0))
  }

  test("pipeline run: include/exclude lists, stage stats, consistency") {
    val dst = ParquetDir(Files.createTempDirectory("xfer_pipe").toString)
    val report = Pipeline.run(spark, ParquetDir(sf), dst,
      Pipeline.Config(
        includeTables = Seq("region", "nation", "supplier", "customer"),
        excludeTables = Seq("supplier"),
        concurrency = 3))
    assert(report.results.map(_.table).sorted == Seq("customer", "nation", "region"))
    assert(report.inconsistent.isEmpty)
    assert(report.stats.map(_.stage) == Seq("schema", "data", "validate"))
    assert(report.stats.forall(_.failures.isEmpty))
  }

  test("pipeline end-to-end into Derby (JDBC target)") {
    val db = Files.createTempDirectory("pipederby").toString + "/p"
    val jdbc = Jdbc(s"jdbc:derby:$db;create=true", "%s", batchSize = 500)
    val report = Pipeline.run(spark, ParquetDir(sf), jdbc,
      Pipeline.Config(includeTables = Seq("region", "nation"),
        truncateBeforeSync = false, validateData = false, concurrency = 2))
    assert(report.results.map(r => (r.table, r.srcRows, r.dstRows)).sorted ==
      Seq(("nation", 25L, 25L), ("region", 5L, 5L)))
    assert(report.inconsistent.isEmpty)
    // reference S13-style probe against the freshly-written target
    assert(graft.catalog.Catalog.rowCount(jdbc.url, "nation") == 25)
  }

  test("stored-function scalar accessors (reference UDF surface)") {
    import graft.functions.StoredFunctions
    val r = StoredFunctions.getOrderSummary(spark, sf, 1L)
    r.foreach(s => assert(s.startsWith("Order: 1, Cust: Customer#")))
    val st = StoredFunctions.getStatusSummary(spark, sf, "F")
    assert(st.exists(_.startsWith("Status: F, Top Cust: ")))
    assert(StoredFunctions.getOrderSummary(spark, sf, -99L).isEmpty)
  }

  test("identifier name map (lowercase threading)") {
    import graft.ddl.DdlConverter
    val spec = DdlConverter.parse("CREATE TABLE MixedCase (UserID int, Name varchar(5))")
    val m = DdlConverter.columnNameMap(spec, lowercase = true)
    assert(m == Map("UserID" -> "userid", "Name" -> "name", "MixedCase" -> "mixedcase"))
    val id = DdlConverter.columnNameMap(spec, lowercase = false)
    assert(id("UserID") == "UserID")
  }

  test("copyTable validates converted data, not the raw source (ADVICE r1)") {
    import spark.implicits._
    val src = ParquetDir(Files.createTempDirectory("xfer_conv_src").toString)
    val dst = ParquetDir(Files.createTempDirectory("xfer_conv_dst").toString)
    // zero-date strings and WKB points both mutate in flight; the checksum
    // must compare the converted frame, not a raw re-read of the source.
    Seq(
      (1L, "0000-00-00 00:00:00", PointDecode.encode(1.0, 2.0)),
      (2L, "2024-05-06 07:08:09", PointDecode.encode(-3.5, 4.5)))
      .toDF("id", "dt", "loc")
      .write.parquet(s"${src.dir}/tconv.parquet")
    val r = Transfer.copyTable(spark, src, dst, "tconv", pointCols = Seq("loc"))
    assert(r.srcRows == 2 && r.dstRows == 2)
    assert(r.checksumMatch, "converted table must validate clean")
    // standalone validate with the same conversion chain also passes...
    val rv = Transfer.validate(spark, src, dst, "tconv",
      convertSrc = d => Transfer.decodePoints(Transfer.zeroDatesToNull(d), Seq("loc")))
    assert(rv.checksumMatch)
    // ...and without it, the mismatch is real (raw source != converted dst)
    val raw = Transfer.validate(spark, src, dst, "tconv")
    assert(!raw.checksumMatch)
  }

  test("incremental keyset sync appends only rows past the max key") {
    import spark.implicits._
    val src = ParquetDir(Files.createTempDirectory("inc_src").toString)
    val dst = ParquetDir(Files.createTempDirectory("inc_dst").toString)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.parquet(s"${src.dir}/t.parquet")
    // first run: destination absent → full load
    val r1 = Transfer.syncIncrement(spark, src, dst, "t", "id")
    assert(r1.srcRows == 3 && r1.dstRows == 3)
    // no new rows → no-op
    val r2 = Transfer.syncIncrement(spark, src, dst, "t", "id")
    assert(r2.srcRows == 0 && r2.dstRows == 3)
    // source grows → only the delta moves
    Seq((4L, "d"), (5L, "e")).toDF("id", "v")
      .write.mode("append").parquet(s"${src.dir}/t.parquet")
    val r3 = Transfer.syncIncrement(spark, src, dst, "t", "id")
    assert(r3.srcRows == 2 && r3.dstRows == 5)
    // validation is now real (full count+checksum compare), not assumed
    assert(r1.checksumMatch && r2.checksumMatch && r3.checksumMatch)
    // opting out reports NOT VERIFIED, never an unearned pass
    val r4 = Transfer.syncIncrement(spark, src, dst, "t", "id", validate = false)
    assert(!r4.checksumMatch)
    // the filter reaches the scan: pushed down as id > 5
    val plan = Transfer.read(spark, src, "t").filter($"id" > 5L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThan(id,5)"), "keyset predicate must push down")
  }

  test("pipeline surfaces validation failure when target is corrupted") {
    import spark.implicits._
    val src = ParquetDir(Files.createTempDirectory("xfer_bad_src").toString)
    val dstDir = Files.createTempDirectory("xfer_bad_dst").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"${src.dir}/t1.parquet")
    // copy, then corrupt the destination and re-validate
    val dst = ParquetDir(dstDir)
    Transfer.copyTable(spark, src, dst, "t1")
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(s"$dstDir/t1.parquet")
    val r = Transfer.validate(spark, src, dst, "t1")
    assert(r.srcRows == 2 && r.dstRows == 1 && !r.checksumMatch)
  }

  test("q326: Merkle pruning certificate holds and shard digests replay driver-side") {
    val rows = graft.operators.TransferOps.q326MerkleDiff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val byLevel = rows.groupBy(_._1)
    // independent driver replay of the level-0 (shard) digests
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    def fp(s: String): Long = graft.functions.Fingerprint.hashString(s)
    val wantShards = docs.groupBy(_._1 / 64).map { case (sh, ds) =>
      val sorted = ds.sortBy(_._1)
      def fold(f: (Long, String) => Long) =
        sorted.foldLeft(0L)((a, d) => (a * 31 + f(d._1, d._2)) % 1000000007L)
      sh -> (sorted.length.toLong,
        fold((id, t) => fp(s"$t:$id")),
        fold((id, t) => if (id % 97 == 13) fp(s"$t [rev2]:$id") else fp(s"$t:$id")))
    }
    byLevel(0L).foreach { case (_, node, nl, d1, d2, ch) =>
      val (wn, w1, w2) = wantShards(node)
      assert(nl == wn && d1 == w1 && d2 == w2, s"shard $node")
      assert(ch == (if (w1 != w2) 1L else 0L))
    }
    // at least one shard changed (the rev2 pattern hits this corpus) and
    // at least one did not (the diff genuinely prunes)
    assert(byLevel(0L).exists(_._6 == 1L) && byLevel(0L).exists(_._6 == 0L))
    // Merkle/pruning certificate: a parent changed iff >= 1 child changed
    Seq((1L, 0L), (2L, 1L)).foreach { case (plvl, clvl) =>
      byLevel(plvl).foreach { case (_, node, nl, _, _, ch) =>
        val kids = byLevel(clvl).filter(_._2 / 8 == node)
        assert(kids.nonEmpty)
        assert(nl == kids.map(_._3).sum, s"level $plvl node $node leaves")
        assert((ch == 1L) == kids.exists(_._6 == 1L), s"level $plvl node $node")
      }
    }
    // the root changes iff anything anywhere changed, and counts all docs
    val root = byLevel(3L).head
    assert(root._3 == docs.length.toLong)
    assert((root._6 == 1L) == byLevel(0L).exists(_._6 == 1L))
  }
}
