package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("streaming-spec", 4)

  override def afterAll(): Unit = spark.stop()

  private def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  private def ev(id: Long, min: Long, user: Long, typ: String = "click",
                 value: Double = 1.0): Event =
    Event(id, ts(min), user, typ, value, "{}")

  test("streaming hourlyCounts equals batch hourlyCounts on same data") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = Seq(
      ev(1, 0, 1), ev(2, 10, 1), ev(3, 65, 2, "buy", 2.5),
      ev(4, 70, 1), ev(5, 200, 3, "buy", 9.0))

    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStream.hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    val streamed = spark.table("hourly")
      .orderBy("hour", "event_type").collect().map(_.toString).toSeq
    q.stop()

    val batch = EventStream.hourlyCounts(events.toDF())
      .orderBy("hour", "event_type").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(batch.size == 4) // (h0 click), (h1 buy), (h1 click), (h3 buy)
  }

  test("streaming hourlyCounts through a real stream equals the q16 frame") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .as[Event].collect().toSeq
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStream.hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly_q16")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    val streamed = spark.table("hourly_q16")
      .orderBy("hour", "event_type").collect().map(_.toString).toSeq
    q.stop()
    // the ORACLE-GATED q16 frame itself — stream and gate cannot drift
    val batch = SparkEntry.queries("q16_event_windows")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("sessionize finalize equals the ORACLE-GATED q54 frame") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val ds = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .as[Event]
    // batch execution finalizes every session (watermark = +inf path)
    def us(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    val streamed = EventStream.sessionize(ds).collect()
      .groupBy(_.user_id).iterator.flatMap { case (u, ss) =>
        ss.sortBy(s => us(s.first_ts)).zipWithIndex.map { case (s, i) =>
          (u, i + 1L, s.n_events, us(s.first_ts),
            us(s.last_ts) - us(s.first_ts), s.total_cents)
        }
      }.toSet
    val batch = SparkEntry.queries("q54_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("sessionize closes sessions on inactivity gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // user 1: burst at t0..t10, then new burst at t120 (gap > 30min closes first)
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()

    mem.addData(ev(1, 0, 1), ev(2, 10, 1, value = 2.0))
    q.processAllAvailable()
    mem.addData(ev(3, 120, 1), ev(4, 125, 2))
    q.processAllAvailable()
    // advance watermark far enough to time out everything open
    mem.addData(ev(99, 600, 9))
    q.processAllAvailable()
    mem.addData(ev(100, 1200, 9))
    q.processAllAvailable()

    val out = spark.table("sessions").as[EventStream.SessionSummary]
      .collect().sortBy(s => (s.user_id, s.first_ts.getTime))
    q.stop()

    val u1 = out.filter(_.user_id == 1)
    assert(u1.length == 2, s"expected 2 closed sessions for user 1, got ${out.mkString(";")}")
    assert(u1(0).n_events == 2 && u1(0).total_cents == 300L)
    assert(u1(1).n_events == 1)
    assert(out.count(_.user_id == 2) == 1)
  }

  test("streaming dedup drops duplicate event_ids within watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.dedupEvents(mem.toDF())
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    mem.addData(ev(1, 0, 1), ev(1, 0, 1), ev(2, 5, 1), ev(1, 1, 2))
    q.processAllAvailable()
    mem.addData(ev(2, 6, 3), ev(3, 7, 3))
    q.processAllAvailable()
    val ids = spark.table("deduped").select("event_id")
      .as[Long].collect().sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // dups across batches removed
  }

  test("stream-static enrichment join (broadcast dim)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    val q = EventStream.enrich(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    mem.addData(ev(1, 0, 1), ev(2, 1, 2), ev(3, 2, 9))
    q.processAllAvailable()
    val rows = spark.table("enriched")
      .select("event_id", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    q.stop()
    assert(rows == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
  }

  test("stream-stream interval join matches clicks to in-window errors") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.clickErrorJoin(mem.toDF())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      ev(10, 0, 1, "error"),
      ev(11, 10, 1, "click"),   // error 10 min before: in window
      ev(12, 50, 1, "click"),   // error 50 min before: outside 30-min window
      ev(20, 5, 2, "error"),
      ev(21, 6, 2, "error"),
      ev(22, 8, 2, "click"))    // both user-2 errors in window
    q.processAllAvailable()
    val rows = spark.table("asof_stream")
      .select("click_id", "err_id").as[(Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((11L, 10L), (22L, 20L), (22L, 21L)))
  }

  test("file-source incremental sync picks up new drops") {
    import spark.implicits._
    val watch = java.nio.file.Files.createTempDirectory("stream_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("stream_out").toString

    Seq(ev(1, 0, 1), ev(2, 5, 2)).toDF()
      .write.mode("append").parquet(watch)
    val q = EventStream.incrementalSync(spark, watch, ckpt, out)
    q.processAllAvailable()
    // second drop, 3 hours later -> watermark passes hour 0, appending its window
    Seq(ev(3, 185, 1), ev(4, 190, 1)).toDF()
      .write.mode("append").parquet(watch)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out).collect()
    // append mode emits only windows the watermark has closed: hour 0
    assert(got.length >= 1)
    assert(got.exists(r => r.getAs[Long]("n") == 2))
  }

  test("streaming funnel run in batch mode equals the q78 batch stages") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val ds = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp")).as[Event]
    val streamed = EventStream.funnel(ds).collect()
      .map(u => u.user_id -> u.stage.toLong).toMap
    // compare against the ORACLE-GATED frame itself (SparkEntry.queries),
    // not a direct operator call — if the gate entry is ever remapped,
    // stream and gate cannot silently drift apart
    val batch = SparkEntry.queries("q78_funnel")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("stage")).toMap
    assert(streamed == batch)
  }

  test("funnel stage machine: order and same-instant ties") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = Seq(
      // user 1: click BEFORE any view -> not counted; then view+click same
      // instant (counts, >= semantics), purchase later -> stage 3
      ev(1, 0, 1, "click"), ev(2, 10, 1, "view"), ev(3, 10, 1, "click"),
      ev(4, 20, 1, "purchase"),
      // user 2: purchase with no prior click -> stays stage 1 after view
      ev(5, 0, 2, "view"), ev(6, 5, 2, "purchase"),
      // user 3: arrives across two micro-batches, state carries over
      ev(7, 0, 3, "view"))
    val mem = MemoryStream[Event]
    val q = EventStream.funnel(mem.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Update).start()
    mem.addData(events: _*)
    q.processAllAvailable()
    mem.addData(ev(8, 30, 3, "click"), ev(9, 40, 3, "purchase"))
    q.processAllAvailable()
    q.stop()
    // last update per user wins (Update mode emits one row per batch)
    val last = spark.table("funnel").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rs) => u -> rs.map(_.getAs[Int]("stage")).max }
    assert(last == Map(1L -> 3, 2L -> 1, 3L -> 3))
  }

  test("streaming attribution in batch mode equals the q141 batch operator") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val ds = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp")).as[Event]
    val streamed = EventStream.attributionFeed(ds).collect()
      .map(u => u.purchase_id -> (u.click_id, u.gap_minutes)).toMap
    // oracle-gated frame, not a direct operator call (see funnel test)
    val batch = SparkEntry.queries("q141_attribution")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) (-1L, -1L) else (r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch)
  }

  test("attribution feed: last click carries across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.attributionFeed(mem.toDS())
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Update).start()
    mem.addData(ev(1, 0, 1, "click"), ev(2, 5, 1, "purchase"))
    q.processAllAvailable()
    mem.addData(ev(3, 10, 1, "purchase"), // still credits click 1
      ev(4, 11, 1, "click"), ev(5, 12, 1, "purchase")) // credits click 4
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attrib").collect()
      .map(r => (r.getAs[Long]("purchase_id"),
        (r.getAs[Long]("click_id"), r.getAs[Long]("gap_minutes"))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    assert(rows == Map(2L -> (1L, 5L), 3L -> (1L, 10L), 5L -> (4L, 1L)))
  }

  test("incremental dedup stream flags corpus twins, dedups in-stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def doc(id: Long, text: String) = StreamingSpec.Doc(id, t0, text, "en")
    val corpus = Seq("an old corpus document", "another standing document")
      .toDF("text")
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = EventStream.incrementalDedupStream(mem.toDF(), corpus)
      .writeStream.format("memory").queryName("incrdedup")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      doc(1, "an old corpus document"),     // corpus twin -> flagged
      doc(2, "a genuinely new document"),   // fresh
      doc(3, "a genuinely new document"),   // in-stream dup -> dropped
      doc(4, "yet another new one"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("incrdedup").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("dup_of_corpus")).toMap
    assert(rows.keySet == Set(1L, 2L, 4L), s"got ${rows.keySet}")
    assert(rows(1L) && !rows(2L) && !rows(4L))
  }

  test("trending terms: windows finalize past the watermark, match batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def doc(id: Long, at: String, text: String) =
      StreamingSpec.Doc(id, java.sql.Timestamp.valueOf(at), text, "en")
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = EventStream.trendingTerms(mem.toDF(), windowMinutes = 60)
      .writeStream.format("memory").queryName("trending")
      .outputMode(OutputMode.Append).start()
    val batch = Seq(
      doc(1, "2026-01-01 00:05:00", "spark spark flink"),
      doc(2, "2026-01-01 00:40:00", "spark duckdb"),
      doc(3, "2026-01-01 01:10:00", "flink flink flink spark"))
    mem.addData(batch: _*)
    q.processAllAvailable()
    // nothing finalized yet: watermark (2h) still inside both windows
    assert(spark.table("trending").count() == 0L)
    // late-arriving far-future doc pushes the watermark past both windows
    mem.addData(doc(99, "2026-01-01 09:00:00", "closer"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("trending").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getAs[String]("word")) -> r.getAs[Long]("n")).toMap
    val expected = batch
      .flatMap(d => d.text.split(" ").map(w =>
        (d.ts.getTime / 3600000 * 3600000, w)))
      .groupBy(identity).map { case ((ms, w), xs) =>
        (new java.sql.Timestamp(ms).toString, w) -> xs.size.toLong }
    assert(got == expected, s"got $got")
    // the finalized sink supports the top-k skim the stream can't rank
    val top = got.toSeq.filter(_._1._1.startsWith("2026-01-01 00:"))
      .sortBy { case ((_, w), n) => (-n, w) }.take(1)
    assert(top.head._1._2 == "spark" && top.head._2 == 3L)
  }

  test("OHLC bars finalize past the watermark and match the batch picks") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.ohlcBars(mem.toDF())
      .writeStream.format("memory").queryName("ohlc")
      .outputMode(OutputMode.Append).start()
    // one hour-bucket of 'click' events (base ts is 22:13:20 UTC, so all
    // offsets stay below the 23:00 boundary), arriving out of order
    val batch = Seq(
      ev(3, 40, 1, "click", 7.00),   // close (latest ts)
      ev(1, 5, 1, "click", 2.50),
      ev(4, 3, 2, "click", 9.99),    // open (earliest ts) and high
      ev(2, 30, 2, "click", 0.25))   // low
    mem.addData(batch: _*)
    q.processAllAvailable()
    assert(spark.table("ohlc").count() == 0L) // window still open
    mem.addData(ev(99, 600, 9, "view", 1.0))  // push the watermark past it
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ohlc").collect()
      .filter(_.getAs[String]("event_type") == "click")
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_events") == 4L)
    assert(r.getAs[Long]("open_cents") == 999L)   // id 4 at minute 3
    assert(r.getAs[Long]("high_cents") == 999L)
    assert(r.getAs[Long]("low_cents") == 25L)
    assert(r.getAs[Long]("close_cents") == 700L)  // id 3 at minute 40
    assert(r.getAs[Long]("volume_cents") == 999L + 250L + 25L + 700L)
  }

  test("ohlcBars in batch mode equals the ORACLE-GATED q122 frame") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    val streamed = EventStream.ohlcBars(events).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Timestamp]("hour_start").getTime * 1000L / 3600000000L) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("open_cents"),
          r.getAs[Long]("high_cents"), r.getAs[Long]("low_cents"),
          r.getAs[Long]("close_cents"), r.getAs[Long]("volume_cents"))).toMap
    val batch = SparkEntry.queries("q122_ohlc_bars")(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("open_cents"),
          r.getAs[Long]("high_cents"), r.getAs[Long]("low_cents"),
          r.getAs[Long]("close_cents"), r.getAs[Long]("volume_cents"))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("band drift feed finalizes windowed counts with baseline attached") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def doc(id: Long, at: String, len: Int) =
      StreamingSpec.Doc(id, java.sql.Timestamp.valueOf(at), "x" * len, "en")
    val baseline = Seq((0L, 600000L), (1L, 400000L)).toDF("band", "share_ppm")
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = EventStream.bandDriftFeed(mem.toDF(), baseline)
      .writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      doc(1, "2026-01-01 00:10:00", 50),   // band 0
      doc(2, "2026-01-01 00:20:00", 50),   // band 0
      doc(3, "2026-01-01 00:30:00", 150),  // band 1
      doc(4, "2026-01-01 00:40:00", 2500)) // band 19 (no baseline row)
    q.processAllAvailable()
    assert(spark.table("drift").count() == 0L) // window still open
    mem.addData(doc(99, "2026-01-01 09:00:00", 10))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("drift").collect()
      .map(r => r.getAs[Long]("band") ->
        (r.getAs[Long]("n_docs"),
          Option(r.getAs[java.lang.Long]("baseline_share_ppm")))).toMap
    assert(rows(0L) == (2L, Some(600000L)))
    assert(rows(1L) == (1L, Some(400000L)))
    assert(rows(19L) == (1L, None)) // unknown band surfaces, not dropped
  }

  test("doc quality gate: dedups, redacts, and flags in-stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def doc(id: Long, text: String, lang: String = "en") =
      StreamingSpec.Doc(id, t0, text, lang)
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = EventStream.docQualityGate(mem.toDF())
      .writeStream.format("memory").queryName("docgate")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      doc(1, "reach me at alice@example.org or 10.1.2.3 ref 1234567 for the report"),
      doc(2, "reach me at alice@example.org or 10.1.2.3 ref 1234567 for the report"), // exact dup
      doc(3, "short"), // fails quality: < 3 tokens, < 20 chars
      doc(4, "a perfectly ordinary document with enough words to pass the gate"),
      doc(5, null), doc(6, null)) // DISTINCT null-text docs: both must flow
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("docgate").collect()
    // duplicate content dropped within the watermark; null-text docs are
    // NOT each other's duplicates (null-safe dedup key) and flag as low
    // quality instead of vanishing
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L, 4L, 5L, 6L))
    Seq(5L, 6L).foreach { id =>
      assert(!rows.find(_.getAs[Long]("doc_id") == id).get.getAs[Boolean]("quality_ok"))
    }
    val r1 = rows.find(_.getAs[Long]("doc_id") == 1L).get
    val red = r1.getAs[String]("redacted")
    assert(red.contains("[EMAIL]") && red.contains("[IP]") && red.contains("[NUM]"))
    assert(!red.contains("alice") || !red.contains("@"), red)
    assert(r1.getAs[Boolean]("quality_ok"))
    assert(!rows.find(_.getAs[Long]("doc_id") == 3L).get.getAs[Boolean]("quality_ok"))
    assert(rows.find(_.getAs[Long]("doc_id") == 4L).get.getAs[Boolean]("quality_ok"))
  }

  test("blocklist gate flags exactly the blocklisted-domain docs in-stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def doc(id: Long, text: String) = StreamingSpec.Doc(id, t0, text, "en")
    val blocklist = Seq("bad.example.org", "worse.example.net").toDF("domain")
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = EventStream.blocklistGate(mem.toDF(), blocklist)
      .writeStream.format("memory").queryName("blockgate")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      doc(1, "see https://ok.example.org/a fine"),
      doc(2, "cite http://bad.example.org/x here"),          // blocked
      doc(3, "both https://ok.example.org and http://worse.example.net"), // blocked
      doc(4, "no links at all"),
      doc(5, null))                                          // null text flows
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("blockgate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("blocked")).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(!rows(1L) && rows(2L) && rows(3L) && !rows(4L) && !rows(5L))
  }

  test("secret gate flags planted keys in-stream and matches the q246 frame") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // the IDENTICAL planted text the oracle-gated q246 frame scans —
    // through a REAL stream, the gate must reproduce its verdicts
    val planted = graft.ops.PipelineOps.secretPlant(
      graft.sources.Tables.load(spark, sf, "documents"))
      .select($"doc_id", $"t2").as[(Long, String)].collect()
      .map { case (id, t2) => StreamingSpec.Doc(id, t0, t2, "en") }
    val mem = MemoryStream[StreamingSpec.Doc]
    mem.addData(planted.toSeq: _*)
    val q = EventStream.secretGate(mem.toDF())
      .writeStream.format("memory").queryName("secretgate")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("secretgate").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hex_runs"), r.getAs[Long]("n_aws_keys"),
          r.getAs[Long]("n_cred_assign"), r.getAs[Long]("has_secret"))).toMap
    val batch = SparkEntry.queries("q246_secret_scan")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hex_runs"), r.getAs[Long]("n_aws_keys"),
          r.getAs[Long]("n_cred_assign"), r.getAs[Long]("has_secret"))).toMap
    assert(streamed == batch)
    assert(streamed.values.exists(_._4 == 1L))
  }

  test("classifier gate through a real stream equals q353's thr-cut columns") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // the REAL corpus through a real stream in three micro-batches; the
    // running (lang, source) snapshot must finish row-identical to the
    // oracle-gated q353 frame's plant-threshold columns
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .collect().map(r => StreamingSpec.SrcDoc(r.getAs[Long]("doc_id"), t0,
        r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[Long]("n_chars")))
    val mem = MemoryStream[StreamingSpec.SrcDoc]
    val q = EventStream.classifierGate(mem.toDF())
      .writeStream.format("memory").queryName("clsgate")
      .outputMode(OutputMode.Complete).start()
    docs.grouped(docs.length / 3 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("lang"), r.getAs[String]("source"))
    def stats(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_keep"),
        r.getAs[Long]("chars_total"), r.getAs[Long]("chars_kept"))
    val streamed = spark.table("clsgate").collect()
      .map(r => key(r) -> stats(r)).toMap
    val batch = SparkEntry.queries("q353_filter_apply")(spark, sf).collect()
      .map(r => key(r) -> stats(r)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("PSI band feed through a real stream matches q362's current-side shares") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // the deployment loop the operator documents: the batch monitor
    // computes the baseline decile edges once; the stream gates against
    // them as constants
    val hist = graft.ops.PipelineOps.nbParityHistogram(spark, sf)
    val edges = graft.ops.PipelineOps.decileEdges(
      hist.filter(_._1 == 0L).map(t => (t._2, t._3)).sortBy(_._1).toSeq)
    // the CURRENT side (odd doc_ids) through a real three-batch stream
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .where($"doc_id" % 2 === 1L)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .collect().map(r => StreamingSpec.SrcDoc(r.getAs[Long]("doc_id"), t0,
        r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[Long]("n_chars")))
    val mem = MemoryStream[StreamingSpec.SrcDoc]
    val q = EventStream.psiBandFeed(mem.toDF(), edges)
      .writeStream.format("memory").queryName("psifeed")
      .outputMode(OutputMode.Complete).start()
    docs.grouped(docs.length / 3 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val counts = spark.table("psifeed").collect()
      .map(r => r.getAs[Long]("band") -> r.getAs[Long]("n_docs")).toMap
    assert(counts.values.sum == docs.length.toLong,
      "every streamed doc lands in exactly one band")
    // derive the shares the way q362 does (ppm, 1-ppm floor) and pin
    // them against the ORACLE-GATED frame's current-side column
    val nQ = counts.values.sum
    val derived = (0L to 9L).map(b =>
      b -> math.max(counts.getOrElse(b, 0L) * 1000000L / nQ, 1L)).toMap
    val frame = SparkEntry.queries("q362_psi_drift")(spark, sf).collect()
      .filter(_.getAs[String]("scope") == "null")
      .map(r => r.getAs[Long]("band") -> r.getAs[Long]("q_ppm")).toMap
    assert(derived == frame,
      s"streamed band shares must equal the batch monitor's: $derived vs $frame")
  }

  test("latenessAudit through a real stream equals the ORACLE-GATED q249 frame") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the deployment loop the operator documents: the batch audit sizes
    // the watermark, the stream runs with a delay >= the measured max
    val batch = SparkEntry.queries("q249_watermark_lateness")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val maxLateUs = batch.values.map(_._3).max
    val delay = s"${maxLateUs / 1000000L + 60L} seconds"
    // feed the SAME modeled collector arrival (batch, shard, event_id),
    // one micro-batch per collector flush, so lateness really crosses
    // micro-batch boundaries
    val events = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .as[Event].collect()
      .sortBy(e => (e.event_id / 64L, Math.floorMod(e.user_id, 4L), e.event_id))
    val mem = MemoryStream[Event]
    val q = EventStream.latenessAudit(mem.toDS(), delay)
      .writeStream.format("memory").queryName("lateness")
      .outputMode(OutputMode.Update).start()
    events.grouped(events.length / 5 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val updates = spark.table("lateness").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // Update mode refreshed each type across batches — the stream was
    // genuinely incremental, not a single-batch replay
    assert(updates.length > batch.size)
    // final row per type = the one with the full count; must equal the
    // oracle-gated q249 frame exactly
    val streamedFinal = updates.groupBy(_._1).map { case (t, us) =>
      t -> us.maxBy(_._2).productIterator.drop(1).map(_.asInstanceOf[Long]).toSeq
    }
    val want = batch.map { case (t, (a, b, c, d, e)) => t -> Seq(a, b, c, d, e) }
    assert(streamedFinal == want)
    assert(batch.values.exists(_._2 > 0L)) // lateness actually occurs
  }

  test("ewmaFeed through a real stream equals the ORACLE-GATED q258 frame") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val mem = MemoryStream[Event]
    val q = EventStream.ewmaFeed(mem.toDS())
      .writeStream.format("memory").queryName("ewmafeed")
      .outputMode(OutputMode.Update).start()
    events.grouped(events.length / 6 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val updates = spark.table("ewmafeed").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val batch = SparkEntry.queries("q258_ewma_backtest")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // genuinely incremental: several provisional refreshes per type
    assert(updates.length > batch.size)
    // the final (full-count) refresh per type equals the oracle-gated frame
    val streamedFinal = updates.groupBy(_._1).map { case (t, us) =>
      val f = us.maxBy(_._3)
      t -> (f._2, f._3, f._4, f._5, f._6)
    }
    assert(streamedFinal == batch)
  }

  test("cusumGate through a real stream equals the ORACLE-GATED q285 frame") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val mem = MemoryStream[Event]
    val q = EventStream.cusumGate(mem.toDS())
      .writeStream.format("memory").queryName("cusumgate")
      .outputMode(OutputMode.Update).start()
    events.grouped(events.length / 6 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val updates = spark.table("cusumgate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val batch = SparkEntry.queries("q285_cusum_drift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // genuinely incremental: multiple refreshes of early days as counts grow
    assert(updates.length > batch.length)
    // take each day's LAST emission: a day's row changes while its count
    // accumulates; the final one has seen every event of that day
    val lastByDay = updates.zipWithIndex.groupBy(_._1._1)
      .map { case (_, us) => us.maxBy(_._2)._1 }.toSeq.sortBy(_._1)
    assert(lastByDay == batch.sortBy(_._1).toSeq)
  }

  test("sprtGate: final emissions equal the ORACLE-GATED q363 frame, carry included") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val P = graft.ops.PipelineOps
    // the SAME trial streams the batch gate folds (shared defs)
    val corpus = P.sprtCorpusTrials(spark, sf)
      .as[(Long, Long)].collect().sortBy(_._1)
      .map { case (i, c) => EventStream.SprtTrial("corpus", i, c) }
    val effect = P.sprtPlantTrials(spark, "se", 360000L)
      .as[(Long, Long)].collect().sortBy(_._1)
      .map { case (i, c) => EventStream.SprtTrial("effect", i, c) }
    val nul = P.sprtPlantTrials(spark, "sn", 300000L)
      .as[(Long, Long)].collect().sortBy(_._1)
      .map { case (i, c) => EventStream.SprtTrial("null", i, c) }
    val mem = MemoryStream[EventStream.SprtTrial]
    val q = EventStream.sprtGate(mem.toDS())
      .writeStream.format("memory").queryName("sprtgate")
      .outputMode(OutputMode.Update).start()
    // chunking exercises the carry: the effect plant crosses only at
    // trial 1000 (q363's batch_dec = 3), so its first 500 trials must
    // emit a no-decision-yet row before later chunks decide it
    mem.addData(effect.take(500).toSeq: _*)
    q.processAllAvailable()
    val carry = spark.table("sprtgate").collect()
      .filter(_.getString(0) == "effect")
    assert(carry.length == 1)
    assert(carry.head.getAs[Long]("decision") == 0L) // inconclusive so far
    assert(carry.head.getAs[Long]("n_trials") == 500L)
    mem.addData((effect.drop(500) ++ corpus).toSeq: _*)
    q.processAllAvailable()
    mem.addData(nul.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val updates = spark.table("sprtgate").collect()
      .map(r => (0 until r.length).map(r.get))
    // final emission per scope — pinned row-identical to the batch frame
    val lastByScope = updates.zipWithIndex.groupBy(_._1.head)
      .map { case (_, us) => us.maxBy(_._2)._1 }.toSet
    val batch = SparkEntry.queries("q363_sprt_gate")(spark, sf).collect()
      .map(r => (0 until r.length).map(r.get)).toSet
    assert(lastByScope == batch)
    // and the carry row really preceded a decision for the effect scope
    val effFinal = lastByScope.find(_.head == "effect").get
    assert(effFinal(4).asInstanceOf[Long] != 0L)
  }

  test("retractGate: flags exactly q380's dirty groups; retractables exact; drops emit") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val TO = graft.operators.TransferOps
    val feed = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_custkey AS BIGINT) AS ck",
        "CAST(o_orderkey AS BIGINT) AS okey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .as[(Long, Long, Long)].collect() ++ TO.RetractPlantFeed
    val delSet = TO.RetractPlantDeleted.toSet
    def isDel(ok: Long): Boolean = (ok > 0 && ok % 23 == 7) || delSet(ok)
    val mem = MemoryStream[EventStream.IvmDelta]
    val q = EventStream.retractGate(mem.toDS())
      .writeStream.format("memory").queryName("retractgate")
      .outputMode(OutputMode.Update).start()
    // the batch operator's exact scenario: the standing view builds from
    // inserts, then the delete batch retracts
    mem.addData(feed.map(r => EventStream.IvmDelta(r._1, r._3, 1L)).toSeq: _*)
    q.processAllAvailable()
    mem.addData(feed.filter(r => isDel(r._2))
      .map(r => EventStream.IvmDelta(r._1, r._3, -1L)).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val updates = spark.table("retractgate").collect().zipWithIndex
    val fin = updates.groupBy(_._1.getLong(0))
      .map { case (ck, us) => ck -> us.maxBy(_._2)._1 }
    // driver replay of the batch maintenance (TransferSpec's q380 logic)
    feed.groupBy(_._1).foreach { case (ck, g) =>
      val all = g.map(_._3)
      val dels = g.filter(r => isDel(r._2)).map(_._3)
      val keep = g.filter(r => !isDel(r._2)).map(_._3)
      if (dels.isEmpty) {
        // untouched groups emitted only in batch 1 — still the view row
        val r = fin(ck)
        assert(r.getLong(1) == keep.length.toLong && r.getLong(2) == keep.sum)
        assert(r.getLong(3) == keep.min && r.getLong(4) == keep.max)
        assert(r.getLong(5) == 0L)
      } else if (keep.isEmpty) {
        // fully-deleted group: the drop row
        val r = fin(ck)
        assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(5) == 0L)
      } else {
        val r = fin(ck)
        // retractables are exact regardless of dirtiness
        assert(r.getLong(1) == keep.length.toLong && r.getLong(2) == keep.sum,
          s"group $ck")
        val dirty = dels.min == all.min || dels.max == all.max
        assert(r.getLong(5) == (if (dirty) 1L else 0L),
          s"group $ck dirty flag")
        if (!dirty) {
          // clean groups: the optimistic extremes ARE the true extremes
          assert(r.getLong(3) == keep.min && r.getLong(4) == keep.max)
        } else {
          // dirty groups: the stream's extremes are the STALE view
          // extremes (explicitly unusable — the batch repair's work list)
          assert(r.getLong(3) == all.min && r.getLong(4) == all.max)
        }
      }
    }
    // the planted classes: -38001 dirty (min), -38002 dirty (max),
    // -38003 clean, -38004 dropped
    assert(fin(-38001L).getLong(5) == 1L)
    assert(fin(-38002L).getLong(5) == 1L)
    assert(fin(-38003L).getLong(5) == 0L)
    assert(fin(-38004L).getLong(1) == 0L)
  }

  test("f2Feed: final emissions equal the q369 frame's estimator rows; state adds") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the SAME keys the batch sketch folds (documents.source), driven in
    // three chunks — additivity means the chunking cannot matter
    val keys = graft.sources.Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("source")).as[String]
      .collect().sorted
      .map(k => EventStream.F2Obs("corpus", k))
    val mem = MemoryStream[EventStream.F2Obs]
    val q = EventStream.f2Feed(mem.toDS())
      .writeStream.format("memory").queryName("f2feed")
      .outputMode(OutputMode.Update).start()
    val (c1, rest) = keys.splitAt(keys.length / 3)
    val (c2, c3) = rest.splitAt(rest.length / 2)
    Seq(c1, c2, c3).foreach { chunk =>
      mem.addData(chunk.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    // final emission per rep (Update mode refreshes all 35 rows per batch)
    val updates = spark.table("f2feed").collect().zipWithIndex
    val fin = updates.groupBy(_._1.getLong(1))
      .map { case (rep, us) => rep -> us.maxBy(_._2)._1 }
    val batch = SparkEntry.queries("q369_ams_f2")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    (0 until graft.ops.PipelineOps.AmsReps).map(_.toLong).foreach { rep =>
      assert(fin(rep).getLong(2) == batch(rep).getAs[Long]("z_or_n"), s"rep $rep")
      assert(fin(rep).getLong(3) == batch(rep).getAs[Long]("estimate"), s"rep $rep")
    }
    // mean and median-of-means skim rows match the batch frame exactly
    Seq(98L, 99L).foreach { rep =>
      assert(fin(rep).getLong(2) == batch(rep).getAs[Long]("z_or_n"), s"rep $rep")
      assert(fin(rep).getLong(3) == batch(rep).getAs[Long]("estimate"), s"rep $rep")
    }
    // rep 97: the running count matches; the exact F2 is honestly absent
    assert(fin(97L).getLong(2) == batch(97L).getAs[Long]("z_or_n"))
    assert(fin(97L).getLong(3) == 0L)
    // additivity witnessed by the intermediate emissions: the first
    // chunk's Z values differ from the final ones (state really folded
    // across micro-batches rather than recomputing per batch)
    val firstEmission = updates.filter(_._1.getLong(1) == 97L).minBy(_._2)._1
    assert(firstEmission.getLong(2) == c1.length.toLong)
  }

  test("cbfGate: insert/probe/delete/re-probe verdicts match the q393 frame legs") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val keys = graft.sources.Tables.load(spark, sf, "customer")
      .select(org.apache.spark.sql.functions.expr(
        "CAST(c_custkey AS BIGINT)")).as[Long].collect()
      .filter(_ % 5L == 0L).distinct.sorted
    val del = keys.filter(_ % 7L == 3L)
    val surv = keys.filterNot(del.contains)
    def ops(tag: String, ks: Seq[Long]) =
      ks.map(k => EventStream.CbfOp("f", tag, k))
    val mem = MemoryStream[EventStream.CbfOp]
    val q = EventStream.cbfGate(mem.toDS())
      .writeStream.format("memory").queryName("cbfgate")
      .outputMode(OutputMode.Update).start()
    // q393's exact scenario: insert all, probe all; delete the del set;
    // probe survivors + deleted + shifted absents
    mem.addData(ops("add", keys) ++ ops("probe", keys): _*)
    q.processAllAvailable()
    val afterInsert = spark.table("cbfgate").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    mem.addData(ops("del", del.toSeq): _*); q.processAllAvailable()
    mem.addData(ops("probe", surv) ++ ops("probe", del.toSeq) ++
      ops("probe", keys.map(_ + 10000000L)): _*)
    q.processAllAvailable()
    q.stop()
    val all = spark.table("cbfgate").collect().zipWithIndex
    val later = all.drop(afterInsert.size)
      .map(u => u._1.getLong(1) -> u._1.getLong(2)).toMap
    val batch = SparkEntry.queries("q393_counting_bloom")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    // leg 1: every inserted key present pre-delete
    assert(keys.forall(afterInsert(_) == 1L))
    assert(batch("1_present_before").getAs[Long]("hits") == keys.length.toLong)
    // leg 2: every survivor still present post-delete
    assert(surv.forall(later(_) == 1L))
    assert(batch("2_survivors_after").getAs[Long]("hits") == surv.length.toLong)
    // legs 3/4: the stream's residual/absent hit counts equal the
    // oracle-gated frame's
    assert(del.count(later(_) == 1L).toLong ==
      batch("3_deleted_after").getAs[Long]("hits"))
    assert(keys.map(_ + 10000000L).count(later(_) == 1L).toLong ==
      batch("4_absent_after").getAs[Long]("hits"))
  }

  test("srmGate: final verdicts row-identical to the q394 frame legs") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the exact q394 assignments, replayed through the shared
    // middle-square rule and driven as two scopes in three chunks
    def msq(salt: String, k: Long, m: Long): Long = {
      val f = graft.functions.Fingerprint.hashString(s"$salt:$k")
      (f * f / 65536L) % m
    }
    val ks = graft.sources.Tables.load(spark, sf, "customer")
      .select(org.apache.spark.sql.functions.expr(
        "CAST(c_custkey AS BIGINT)")).as[Long].collect().sorted
    val healthy = ks.map(k => EventStream.SrmObs("healthy",
      msq("exp1", k, 2L), 500000L))
    val crashed = ks.filter(k => msq("exp1", k, 2L) == 0L ||
        msq("crash", k, 6L) != 0L)
      .map(k => EventStream.SrmObs("crashed", msq("exp1", k, 2L), 500000L))
    val all = healthy ++ crashed
    val mem = MemoryStream[EventStream.SrmObs]
    val q = EventStream.srmGate(mem.toDS())
      .writeStream.format("memory").queryName("srmgate")
      .outputMode(OutputMode.Update).start()
    val chunks = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
    chunks.foreach { c => mem.addData(c.toSeq: _*); q.processAllAvailable() }
    q.stop()
    val updates = spark.table("srmgate").collect().zipWithIndex
    val fin = updates.groupBy(_._1.getString(0))
      .map { case (sc0, us) => sc0 -> us.maxBy(_._2)._1 }
    val batch = SparkEntry.queries("q394_srm_check")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    def pin(scope: String, leg: String): Unit = {
      val (s0, b) = (fin(scope), batch(leg))
      assert(s0.getLong(1) == b.getAs[Long]("n_a"), scope)
      assert(s0.getLong(2) == b.getAs[Long]("n_b"), scope)
      assert(s0.getLong(3) == b.getAs[Long]("x2_milli"), scope)
      assert(s0.getLong(4) == b.getAs[Long]("srm"), scope)
    }
    pin("healthy", "1_even_healthy")
    pin("crashed", "2_even_crashed")
  }

  test("mgGate: final candidates equal one sequential MG run; q100 hitters all live; bound holds") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the SAME word stream the batch sketch folds, in document order,
    // driven in three chunks — MG state is its effective counts, so the
    // chunked fold must equal one sequential run
    val words = graft.sources.Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
      .flatMap(d => Option(d._2).getOrElse("").split(" ", -1))
    val k = graft.ops.CorpusOps.MgK
    val mem = MemoryStream[EventStream.MgObs]
    val q = EventStream.mgGate(mem.toDS())
      .writeStream.format("memory").queryName("mggate")
      .outputMode(OutputMode.Update).start()
    val chunks = words.grouped(math.max(1, words.length / 3 + 1)).toSeq
    chunks.foreach { c =>
      mem.addData(c.map(w => EventStream.MgObs("corpus", w)).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val updates = spark.table("mggate").collect().zipWithIndex
    val lastN = updates.map(_._1.getLong(3)).max
    val fin = updates.filter(_._1.getLong(3) == lastN)
      .map(u => u._1.getString(1) -> u._1).toMap
    // ONE sequential run through the same shared aggregator
    val agg = new graft.functions.MisraGries(k)
    val buf = words.foldLeft(agg.zero)((b, w) => agg.reduce(b, w))
    val eff = buf.effective
    assert(lastN == words.length.toLong)
    assert(fin.keySet == eff.keySet)
    val slack = (buf.total - eff.values.sum) / (k + 1L)
    eff.foreach { case (w, c) =>
      assert(fin(w).getLong(2) == c, w)
      assert(fin(w).getLong(4) == slack, w)
    }
    // the MG guarantee vs the oracle-gated batch frame: every q100 heavy
    // hitter is live, and its count is within the undercount bound
    val hitters = SparkEntry.queries("q100_heavy_hitters")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    hitters.foreach { case (w, exact) =>
      assert(eff.contains(w), s"hitter $w not live")
      val mg = eff(w)
      assert(mg <= exact && exact - mg <= slack, s"$w: $mg vs $exact")
    }
  }

  test("kllGate: emissions replay exactly, the rank-error bound holds per batch, shards merge") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val mem = MemoryStream[Event]
    val q = EventStream.kllGate(mem.toDS())
      .writeStream.format("memory").queryName("kllgate")
      .outputMode(OutputMode.Update).start()
    // INDEPENDENT driver replay of the compactor fold (not code reuse):
    // per shard a level stack, the exact item prefix, and the bound
    val (shards, cap) = (8, 32)
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    val levels = Array.fill(shards)(
      scala.collection.mutable.ArrayBuffer[Vector[(Long, Long)]](Vector.empty))
    val nArr = Array.fill(shards)(0L)
    val boundArr = Array.fill(shards)(0L)
    val exact = Array.fill(shards)(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long)])
    val expected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Long)]
    def summarize(sh: Int): Seq[(Long, Long, Long)] = {
      var cw = 0L
      levels(sh).zipWithIndex
        .flatMap { case (buf, l) => buf.map { case (c, id) => (c, id, 1L << l) } }
        .sortBy(x => (x._1, x._2)).toSeq
        .map { case (c, id, w) => cw += w; (c, id, cw) }
    }
    var checkedBound = 0
    events.grouped(events.length / 6 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
      chunk.groupBy(e => java.lang.Math.floorMod(e.event_id, shards.toLong))
        .toSeq.foreach { case (shL, es) =>
          val sh = shL.toInt
          es.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            // HALF_UP, Spark's `round` on a double (q312's cents rule)
            val cents = new java.math.BigDecimal(java.lang.Double.toString(
              e.value * 100)).setScale(0, java.math.RoundingMode.HALF_UP)
              .longValueExact()
            levels(sh)(0) = levels(sh)(0) :+ ((cents, e.event_id))
            exact(sh) += ((cents, e.event_id))
            nArr(sh) += 1
            var l = 0
            while (levels(sh)(l).size >= cap) {
              val promoted = levels(sh)(l).sortBy(identity)
                .zipWithIndex.collect { case (x, i) if i % 2 == 0 => x }
              if (levels(sh).size == l + 1) levels(sh) += Vector.empty
              levels(sh)(l) = Vector.empty
              levels(sh)(l + 1) = levels(sh)(l + 1) ++ promoted
              boundArr(sh) += 1L << l
              l += 1
            }
          }
          val cum = summarize(sh)
          val sortedExact = exact(sh).sorted
          (1 to 9).foreach { d =>
            val n = nArr(sh)
            val t = math.min(d.toLong * n / 10L + 1L, n)
            val (c, id, _) = cum(cum.indexWhere(_._3 >= t))
            expected += ((shL, d.toLong, t, c, id, n, boundArr(sh)))
            // bound-still-holds: the estimate's TRUE rank in this shard's
            // exact prefix is within the sketch's own deterministic bound
            val trueRank = sortedExact.indexOf((c, id)) + 1L
            assert(trueRank >= 1L, s"estimate ($c,$id) not in shard $sh prefix")
            assert(math.abs(trueRank - t) <= boundArr(sh),
              s"shard $sh d$d: rank $trueRank target $t bound ${boundArr(sh)}")
            checkedBound += 1
          }
        }
    }
    q.stop()
    val got = spark.table("kllgate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got.sorted == expected.toSeq.sorted, s"${got.size} vs ${expected.size}")
    assert(checkedBound >= 9 * shards)
    // compactions genuinely happened, and the sketch beats the trivial
    // bound on every shard
    (0 until shards).foreach { sh =>
      assert(boundArr(sh) > 0L && boundArr(sh) < nArr(sh), s"shard $sh")
    }
    // mergeability (q312's property, cross-SHARD form): the weighted
    // union of all shard summaries answers global deciles within the
    // SUMMED bound of the global exact ranks
    var cw = 0L
    val merged = (0 until shards).flatMap(sh => levels(sh).zipWithIndex
        .flatMap { case (buf, l) => buf.map { case (c, id) => (c, id, 1L << l) } })
      .sortBy(x => (x._1, x._2))
      .map { case (c, id, w) => cw += w; (c, id, cw) }
    val gN = nArr.sum
    assert(cw == gN) // Sigma weights stays exactly the item count
    val gExact = exact.flatten.sorted
    val gBound = boundArr.sum
    (1 to 9).foreach { d =>
      val t = d.toLong * gN / 10L + 1L
      val (c, id, _) = merged(merged.indexWhere(_._3 >= t))
      val trueRank = gExact.indexOf((c, id)) + 1L
      assert(math.abs(trueRank - t) <= gBound, s"merged d$d")
    }
  }

  test("kllGate rounds a negative half-cent HALF_UP, like q312's cents") {
    import spark.implicits._
    // -0.125 * 100 is exactly -12.5: Spark's round gives -13, math.round -12
    val got = EventStream.kllGate(Seq(ev(1, 0, 1, value = -0.125)).toDS())
      .collect()
    assert(got.length == 9 && got.forall(_.est_cents == -13L),
      got.mkString(";"))
  }

  test("gap-session state: sessionize drops a closed user, chatContractGate keeps one ordinal row") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // state rows left once every session of user 1 has closed; user 9
    // only pushes the watermark and keeps its own open session in state
    def stateRows(gate: org.apache.spark.sql.Dataset[Event] =>
        org.apache.spark.sql.Dataset[_], name: String): Long = {
      val mem = MemoryStream[Event]
      val q = gate(mem.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData(ev(1, 0, 1, "view"), ev(2, 10, 1, "purchase"))
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators(0).numRowsTotal == 1L, name)
        // wm -> 600 - 120 = 480, past user 1's last event + gap; the
        // second push makes sure a batch runs at that watermark
        mem.addData(ev(100, 600, 9, "view"))
        q.processAllAvailable()
        mem.addData(ev(101, 620, 9, "view"))
        q.processAllAvailable()
        assert(spark.table(name).where("user_id = 1").count() == 1L, name)
        q.lastProgress.stateOperators(0).numRowsTotal
      } finally q.stop()
    }
    assert(stateRows(EventStream.sessionize(_), "retain_sessions") == 1L)
    assert(stateRows(EventStream.chatContractGate(_), "retain_chat") == 2L)
  }

  test("funnel and attribution finalize a silent user's buffer on timeout") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // user 1 buffers below no watermark and goes silent; user 9 pushes
    // the watermark past it in two batches (the wm applies a batch late),
    // so only user 1's event-time timeout can emit its later rows
    def drive(gate: org.apache.spark.sql.Dataset[Event] =>
        org.apache.spark.sql.Dataset[_], name: String): Seq[org.apache.spark.sql.Row] = {
      val mem = MemoryStream[Event]
      val q = gate(mem.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        mem.addData(ev(1, 0, 1, "click"), ev(2, 5, 1, "purchase"),
          ev(3, 0, 2, "view"), ev(4, 5, 2, "click"))
        q.processAllAvailable()
        mem.addData(ev(100, 600, 9, "view"))
        q.processAllAvailable()
        mem.addData(ev(101, 620, 9, "view"))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).collect().toSeq
    }
    val attrib = drive(EventStream.attributionFeed(_), "idle_attrib")
      .filter(_.getAs[Long]("user_id") == 1L)
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"),
        r.getAs[Long]("gap_minutes"), r.getAs[Boolean]("finalized")))
    assert(attrib.sortBy(_._4) == Seq((2L, 1L, 5L, false), (2L, 1L, 5L, true)))
    // the funnel's only user-2 input is batch 1: a second row can come
    // only from the timeout folding the buffer into the final stage
    val stages = drive(EventStream.funnel(_), "idle_funnel")
      .filter(_.getAs[Long]("user_id") == 2L)
      .map(r => (r.getAs[Int]("stage"), r.getAs[Long]("view_ts"),
        r.getAs[Long]("click_ts")))
    val (v, c) = (ts(0).getTime * 1000L, ts(5).getTime * 1000L)
    assert(stages == Seq((2, v, c), (2, v, c)))
  }

  test("urlDedupGate through a real stream equals the ORACLE-GATED q269 frame") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // the IDENTICAL planted URL noise the oracle-gated q269 frame folds,
    // fed through a REAL stream in several micro-batches so dedup state
    // genuinely accumulates across batch boundaries
    val planted = graft.ops.TextOps.withUrlNoise(
      graft.sources.Tables.load(spark, sf, "documents"))
      .select($"doc_id", $"t2").as[(Long, String)].collect()
      .map { case (id, t2) => StreamingSpec.Doc(id, t0, t2, "en") }
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = EventStream.urlDedupGate(mem.toDF())
      .writeStream.format("memory").queryName("urlgate")
      .outputMode(OutputMode.Update).start()
    planted.grouped(planted.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val updates = spark.table("urlgate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = SparkEntry.queries("q269_url_canonical")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // genuinely incremental: keys refresh across micro-batches
    assert(updates.length > updates.map(_._1).distinct.length)
    // the final refresh per key, restricted to dup keys, IS the batch
    // frame — same canonicalization, same counts, same first-seen doc
    val streamedFinal = updates.groupBy(_._1).map { case (k, us) =>
      val f = us.maxBy(_._3)
      k -> (f._2, f._3, f._4)
    }.filter(_._2._2 >= 2L)
    assert(streamedFinal == batch)
    // dedup really fires in-stream: some key sees >= 2 raw spellings
    assert(streamedFinal.values.exists(_._3 >= 2L))
  }

  test("chatContractGate finalize equals the ORACLE-GATED q311 frame") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    // the stream sees the SAME feed as the batch operator: real events
    // plus the ChatPlant rows (rebuilt as Event values; us -> timestamp)
    val real = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .as[Event].collect()
    val plants = graft.ops.EventOps.ChatPlant.map { case (eid, uid, us, typ, props) =>
      val t = new Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      Event(eid, t, uid, typ, 0.0, props)
    }
    val ds = spark.createDataset(real.toSeq ++ plants)
    // batch execution finalizes every conversation (watermark = +inf)
    val streamed = EventStream.chatContractGate(ds).collect()
      .map(c => (c.user_id, c.conv_idx, c.n_turns, c.n_user_turns,
        c.n_assistant_turns, c.n_system_turns, c.n_same_role_pairs,
        c.opener_bad, c.dangling_tail, c.n_empty_turns, c.n_pii_turns,
        c.n_secret_turns, c.contract_ok, c.transcript_fp)).toSet
    val batch = SparkEntry.queries("q311_chat_contracts")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9), r.getLong(10), r.getLong(11), r.getLong(12),
        r.getLong(13))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("lossMaskGate through a real stream equals the ORACLE-GATED q313 frame") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the standing boiler frame comes from the batch side (one rule,
    // two execution modes)
    val boiler = graft.ops.PipelineOps.q313BoilerFrame(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
        "TIMESTAMP '2024-01-01 00:00:00' AS ts", // docs carry no event
        "source", "coalesce(text, '') AS text")  // time; gate is stateless
      .as[EventStream.MaskDoc].collect()
    val mem = MemoryStream[EventStream.MaskDoc]
    val q = EventStream.lossMaskGate(mem.toDS(), boiler)
      .writeStream.format("memory").queryName("lossmasks")
      .outputMode(OutputMode.Append).start()
    docs.grouped(docs.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("lossmasks").collect()
      .map(r => (0 to 12).map(i => r.getLong(i)).toList).toSet
    val batch = SparkEntry.queries("q313_loss_masks")(spark, sf).collect()
      .map(r => (0 to 12).map(i => r.getLong(i)).toList).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("prefPairGate finalize equals the ORACLE-GATED q327 frame") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    // the stream sees the SAME feed as the batch operator: real events
    // plus the PrefPlant rows (rebuilt as Event values; us -> timestamp)
    val real = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .as[Event].collect()
    val plants = graft.ops.EventOps.PrefPlant.map {
      case (eid, uid, us, typ, v, props) =>
        val t = new Timestamp(us / 1000L)
        t.setNanos(((us % 1000000L) * 1000L).toInt)
        Event(eid, t, uid, typ, v, props)
    }
    val ds = spark.createDataset(real.toSeq ++ plants)
    // batch execution finalizes every conversation (watermark = +inf)
    val streamed = EventStream.prefPairGate(ds).collect()
      .map(p => (p.user_id, p.conv_idx, p.prompt_fp, p.n_candidates,
        p.chosen_id, p.rejected_id, p.chosen_cents, p.rejected_cents,
        p.margin_cents, p.pii_prompt)).toSet
    val batch = SparkEntry.queries("q327_preference_pairs")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the planted clean pair and the PII pair both came through
    assert(streamed.exists(p => p._1 == -801L && p._10 == 0L))
    assert(streamed.exists(p => p._1 == -805L && p._10 == 1L))
  }

  test("prefPairGate: non-qualifying conversations still advance the ordinal") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def pe(id: Long, min: Long, user: Long, typ: String, value: Double,
        props: String): Event = Event(id, ts(min), user, typ, value, props)
    val mem = MemoryStream[Event]
    val q = EventStream.prefPairGate(mem.toDS())
      .writeStream.format("memory").queryName("prefpairs")
      .outputMode(OutputMode.Append).start()
    // conversation 1 for user 9: qualifying pair
    mem.addData(pe(1, 0, 9, "view", 0.0, "prompt one"),
      pe(2, 1, 9, "purchase", 2.0, "weak answer"),
      pe(3, 2, 9, "purchase", 9.0, "strong answer"))
    q.processAllAvailable()
    // watermark pusher closes conv 1; state goes pending-empty
    mem.addData(pe(100, 200, 8, "view", 0.0, "x"))
    q.processAllAvailable()
    // conversation 2: single candidate -> NO pair, but the ordinal moves
    mem.addData(pe(4, 300, 9, "view", 0.0, "prompt two"),
      pe(5, 301, 9, "purchase", 3.0, "only answer"))
    q.processAllAvailable()
    mem.addData(pe(101, 600, 8, "view", 0.0, "x"))
    q.processAllAvailable()
    // conversation 3: qualifying again -> conv_idx must be 3, not 2
    mem.addData(pe(6, 700, 9, "view", 0.0, "prompt three"),
      pe(7, 701, 9, "purchase", 1.0, "meh"),
      pe(8, 702, 9, "purchase", 8.0, "great"))
    q.processAllAvailable()
    mem.addData(pe(102, 1000, 8, "view", 0.0, "x"))
    q.processAllAvailable()
    mem.addData(pe(103, 1020, 8, "view", 0.0, "x"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("prefpairs").collect()
      .filter(_.getLong(0) == 9L)
      .map(r => (r.getLong(1), r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, 2L), (3L, 8L, 7L)),
      s"ordinals must skip the single-candidate conversation: ${got.toSeq}")
  }

  test("chatContractGate keeps the conversation ordinal across closed state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.chatContractGate(mem.toDS())
      .writeStream.format("memory").queryName("chatconvs")
      .outputMode(OutputMode.Append).start()
    // conversation 1 for user 9: view then purchase
    mem.addData(ev(1, 0, 9, "view"), ev(2, 1, 9, "purchase"))
    q.processAllAvailable()
    // watermark pusher (other user): wm -> 200-120 = 80 > conv1 end+gap
    mem.addData(ev(100, 200, 8, "view"))
    q.processAllAvailable()
    // conversation 2 arrives IN-watermark (300 > 80); conv 1 closes here
    mem.addData(ev(3, 300, 9, "view"), ev(4, 301, 9, "purchase"))
    q.processAllAvailable()
    // two pushes: the first raises the wm past conv2's timeout, the
    // second batch actually FIRES the timeout (wm applies next batch)
    mem.addData(ev(101, 600, 8, "view"))
    q.processAllAvailable()
    mem.addData(ev(102, 620, 8, "view"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chatconvs").collect()
      .filter(_.getLong(0) == 9L).map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // two clean 2-turn conversations, ordinals 1 then 2 — the counter
    // survived the state having gone pending-empty between them
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L)))
  }
}

object StreamingSpec {
  final case class Doc(doc_id: Long, ts: java.sql.Timestamp,
      text: String, lang: String)
  final case class SrcDoc(doc_id: Long, ts: java.sql.Timestamp,
      text: String, lang: String, source: String, n_chars: Long)
}

class BootstrapGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("bootstrap-gate-spec", 4)

  override def afterAll(): Unit = spark.stop()

  test("bootstrapGate: prefix-consistent replicate sums pin to the q344 frame") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val orders = graft.sources.Tables.load(spark, sf, "orders")
      .selectExpr("o_orderkey", "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_totalprice")
      .as[EventStream.Order].collect().sortBy(_.o_orderkey)
    val mem = MemoryStream[EventStream.Order]
    val q = EventStream.bootstrapGate(mem.toDS())
      .writeStream.format("memory").queryName("bootgate")
      .outputMode(OutputMode.Update).start()
    val reps = graft.ops.PipelineOps.BootReps
    // independent driver replay of the weight arithmetic (double entry,
    // not code reuse)
    val cnt = Array.fill(reps)(0L); val sums = Array.fill(reps)(0L)
    orders.grouped(orders.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toSeq: _*)
      q.processAllAvailable()
      chunk.foreach { o =>
        val x = java.math.BigDecimal.valueOf(o.o_totalprice * 100.0)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        val k = o.o_orderkey
        (0 until reps).foreach { rep =>
          val h = graft.functions.Fingerprint.hashString(
            s"boot:$k:$rep:${(k % 1000003L) * (k % 1000003L)}")
          val w = (if (h % 4L == 0L) 1L else 0L) +
            (if (h / 4L % 4L == 0L) 1L else 0L) +
            (if (h / 16L % 4L == 0L) 1L else 0L) +
            (if (h / 64L % 4L == 0L) 1L else 0L)
          cnt(rep) += w; sums(rep) += w * x
        }
      }
      // the LATEST emission per replicate (w_count is cumulative, so
      // max-by-struct picks it) equals the fed prefix exactly — the
      // mergeable-state property observed at every batch boundary
      val got = spark.table("bootgate").groupBy($"rep")
        .agg(max(struct($"w_count", $"w_sum_cents")).as("s"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toMap
      (0 until reps).foreach { rep =>
        assert(got(rep.toLong) == ((cnt(rep), sums(rep))), s"prefix rep $rep")
      }
    }
    q.stop()
    // the pin: final stream state is row-identical to the ORACLE-GATED
    // q344 replicate rows
    val batch = graft.ops.PipelineOps.q344BootstrapCi(spark, sf).collect()
      .filter(_.getAs[Long]("rep") < reps)
      .map(r => r.getAs[Long]("rep") ->
        (r.getAs[Long]("w_count"), r.getAs[Long]("w_sum_cents"))).toMap
    assert(batch.size == reps)
    (0 until reps).foreach { rep =>
      assert(batch(rep.toLong) == ((cnt(rep), sums(rep))),
        s"rep $rep diverges from the q344 frame")
    }
  }
}
