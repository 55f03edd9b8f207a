package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import scala.collection.mutable.ListBuffer

/** Structured-Streaming incremental sync — the streaming extension the
  * batch-only reference lacks (SURVEY.md §1.1 note, §7). The `events` table
  * models a CDC/append stream; the same transformations run identically on
  * `readStream` (production) and on a static DataFrame (tests/backfill) —
  * that's the Spark contract this module leans on.
  *
  * Stateless gates are narrow projections, and the windowed rollups are
  * watermarked `groupBy(window)` aggregations. The keyed-state gates come
  * in three shapes, each written once:
  *  - `scopedFold`: a running fold per scope key (Update mode, no
  *    timeout) — a key, a zero and a step;
  *  - `gapSessions`: per-user gap sessions that close once the
  *    watermark passes their last event + gap (Append mode, event-time
  *    timeout) — a turn projection and an emit;
  *  - `bufferedFold`: a per-user fold of everything below the watermark
  *    plus a provisional tail (Update mode, event-time timeout).
  * State is partitioned by key across executors, and watermarks bound the
  * buffered part — without one, a 100 TB-scale stream would accumulate
  * state forever.
  */
object EventStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class SessionSummary(user_id: Long, n_events: Long,
      first_ts: Timestamp, last_ts: Timestamp, total_cents: Long)

  /** Event time in MICROSECONDS (`getTime` ms + the sub-ms part of
    * `getNanos`), the batch operators' precision: a millisecond compare
    * merges or reorders pairs the batch forms keep apart. */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** Cents under HALF_UP — Exact.cents' rule and Spark's `round` on a
    * double (q312's `CAST(round(x * 100) AS BIGINT)`). `math.round` rounds
    * negative half-cents toward +inf (-12.5 to -12, Spark gives -13) and
    * would split a gate from its batch twin. */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 100.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** The group's watermark in µs. Batch execution (no watermark tracking)
    * reads +inf, so one call finalizes everything. */
  private def watermarkUs(state: GroupState[_]): Long =
    try {
      val ms = state.getCurrentWatermarkMs()
      if (ms <= 0L) 0L else ms * 1000L
    } catch { case _: UnsupportedOperationException => Long.MaxValue }

  /** The one running fold per scope key (Update mode, no timeout): each
    * micro-batch, `step` gets the key, its stored state (or `zero`) and
    * the batch's rows, and returns the state to store and the rows to
    * emit. */
  private def scopedFold[I, K: Encoder, S: Encoder, O: Encoder](
      ds: Dataset[I])(key: I => K)(zero: S)(
      step: (K, S, Iterator[I]) => (S, Iterator[O])): Dataset[O] =
    ds.groupByKey(key).flatMapGroupsWithState[S, O](
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (k: K, rows: Iterator[I], state: GroupState[S]) =>
        val (s, out) = step(k, state.getOption.getOrElse(zero), rows)
        state.update(s)
        out
    }

  /** A user's buffered turns of still-open sessions, each (µs, event_id,
    * the caller's payload), and the count of sessions already closed. */
  final case class GapState[X](pending: List[(Long, Long, X)], closed: Long)

  /** The one watermark-closed gap-session scan (Append mode, event-time
    * timeout). Per user, the buffered turns plus the arrivals — each
    * (µs, event_id, turn(e)); event_id completes the total order, so
    * same-µs ties never depend on arrival — are sorted and split wherever
    * two consecutive turns lie more than `gapMinutes` apart (a µs compare,
    * the batch forms' precision).
    *
    * A session is FINAL once the watermark has passed its last turn + gap:
    * any later in-watermark arrival has ts ≥ wm, so it can neither join
    * nor split it (folding eagerly in arrival order rewinds boundaries).
    * Each closed session goes to `emit` with its 1-based ordinal over the
    * user's history; sessions close in watermark order, so a running
    * counter reproduces the batch ordinal. Open sessions stay buffered
    * with a wake-up at max(last) + gap + 1 ms — the +1 ms keeps the µs→ms
    * truncation from landing the timeout AT the watermark (Spark requires
    * strictly later ones). With nothing open, `keepOrdinal` keeps the
    * counter on a real stream, so a later session does not restart at 1;
    * otherwise, and in batch mode (one call finalizes everything), the
    * state is dropped. State is bounded by one open gap window per user. */
  private def gapSessions[X, O: Encoder](events: Dataset[Event],
      gapMinutes: Int, keepOrdinal: Boolean)(turn: Event => X)(
      emit: (Long, Long, Vector[(Long, Long, X)]) => Iterator[O])(
      implicit stateEnc: Encoder[GapState[X]]): Dataset[O] = {
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[GapState[X], O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[GapState[X]]) =>
          val wmUs = watermarkUs(state)
          val st = state.getOption.getOrElse(GapState[X](Nil, 0L))
          val all = (st.pending ++ rows.map(e => (micros(e.ts), e.event_id,
            turn(e)))).sortBy(t => (t._1, t._2))
          val sessions = ListBuffer.empty[Vector[(Long, Long, X)]]
          var cur = Vector.empty[(Long, Long, X)]
          all.foreach { p =>
            if (cur.nonEmpty && p._1 - cur.last._1 > gapUs) {
              sessions += cur; cur = Vector(p)
            } else cur = cur :+ p
          }
          if (cur.nonEmpty) sessions += cur
          val (closed, open) = sessions.partition(s => s.last._1 + gapUs <= wmUs)
          val n = st.closed + closed.size
          if (open.nonEmpty) {
            state.update(GapState(open.flatten.toList, n))
            state.setTimeoutTimestamp(open.map(_.last._1).max / 1000L +
              gapMinutes * 60L * 1000L + 1L)
          } else if (keepOrdinal && wmUs != Long.MaxValue && n > 0L)
            state.update(GapState[X](Nil, n))
          else state.remove()
          closed.iterator.zipWithIndex.flatMap { case (s, i) =>
            emit(user, st.closed + i + 1L, s)
          }
      }
  }

  /** A user's fold of every event below the watermark (`done`) plus the
    * buffered (µs, …) events the watermark has not yet passed. */
  final case class Buffered[S, A, B](done: S, pending: List[(Long, A, B)])

  /** The one watermark-buffered fold with a provisional tail (Update mode,
    * event-time timeout). Per user, the buffer plus the arrivals (`turn`
    * projects an event to a (µs, …) triple; None drops it) are sorted and
    * split at the watermark. Events strictly below it can never be
    * preceded by a later valid arrival, so `step` folds them (`fin`) into
    * `done` for good; the rest (`pend`, the == wm boundary included — an
    * equal-timestamp event is still valid) stay buffered, and `step` may
    * fold them provisionally into its output, which later batches refine.
    * A user who goes silent still finalizes: a wake-up just past the
    * newest buffered event calls back with no rows once the watermark
    * passes it, so the buffer never stays pinned. Batch mode (wm = +inf)
    * never buffers. */
  private def bufferedFold[S, A: Ordering, B: Ordering, O: Encoder](
      events: Dataset[Event])(zero: S)(turn: Event => Option[(Long, A, B)])(
      step: (Long, S, List[(Long, A, B)], List[(Long, A, B)]) => (S, Iterator[O]))(
      implicit stateEnc: Encoder[Buffered[S, A, B]]): Dataset[O] =
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[Buffered[S, A, B], O](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[Buffered[S, A, B]]) =>
          val wmUs = watermarkUs(state)
          val st = state.getOption.getOrElse(Buffered[S, A, B](zero, Nil))
          val (fin, pend) =
            (st.pending ++ rows.flatMap(turn)).sorted.partition(_._1 < wmUs)
          val (done, out) = step(user, st.done, fin, pend)
          state.update(Buffered(done, pend))
          if (pend.nonEmpty)
            state.setTimeoutTimestamp(pend.map(_._1).max / 1000L + 1L)
          out
      }

  /** Tumbling 1-hour windowed counts per event type with a 2-hour
    * watermark. Works on both streaming and static frames. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("value_cents"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("value_cents"))

  /** X86's continuous form — streaming OHLC bars: per event type and
    * tumbling hour, open/high/low/close/volume, finalizing in append mode
    * once the watermark passes the window end. Open/close are min_by/
    * max_by over the (event-time micros, event_id) struct — a TOTAL order
    * (event_id unique), so the picks are deterministic and match the
    * batch operator's rank-1 selection exactly. State per open window ×
    * type is constant-size running extrema, never buffered events. */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"), col("event_type"), col("event_id"),
        graft.functions.Exact.cents(col("value")).as("cents"),
        unix_micros(col("ts")).as("us"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("cents"), struct(col("us"), col("event_id"))).as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max_by(col("cents"), struct(col("us"), col("event_id"))).as("close_cents"),
        sum(col("cents")).as("volume_cents"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("open_cents"), col("high_cents"),
        col("low_cents"), col("close_cents"), col("volume_cents"))

  /** Gap-based sessionization (30-minute inactivity), the Spark-native
    * replacement for hand-rolled cursor loops over ordered scans: a
    * `gapSessions` caller whose pending turn is the event's cents
    * (three longs per buffered event) and whose session is emitted once
    * the watermark has passed its last event + gap. Cents are summed as
    * exact integers (a Double sum differs in the last bits between a run
    * and its retry); no ordinal is kept. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    def tsOf(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    gapSessions(events, gapMinutes, keepOrdinal = false)(e => cents(e.value)) {
      (user, _, s) =>
        Iterator.single(SessionSummary(user, s.size.toLong, tsOf(s.head._1),
          tsOf(s.last._1), s.map(_._3).sum))
    }
  }

  /** Stream–static enrichment join: events stream × broadcast user dim —
    * the streaming face of the star join (no state: the static side is
    * broadcast per micro-batch, so this scales with the dim, not the
    * stream). */
  def enrich(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(userDim), Seq("user_id"), "left")

  /** Streaming exact dedup: drop duplicate event_ids within the watermark
    * window — the streaming face of the dedup ladder (state is bounded by
    * the watermark, so it scales with the window, not the stream). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming document-ingest quality gate: the corpus curation layer as
    * a continuous pipeline — per arriving document, PII scrub (planted
    * detector patterns from the batch q81), token/length stats, a
    * language-independent quality flag, and exact content-hash dedup
    * within the watermark.
    *
    * Every transform is a narrow codegen'd expression (regexp/HOF), so
    * the gate runs at stream-ingest throughput; the only state is the
    * dedup hash set, bounded by the watermark — the streaming analogue of
    * q74's batch cleaning audit. Input schema: (doc_id LONG, ts TIMESTAMP,
    * text STRING, lang STRING). */
  def docQualityGate(docs: DataFrame): DataFrame = {
    // ONE detector definition shared with the batch scrub (q81) — see
    // graft.ops.PiiPatterns; divergent copies would silently split the
    // batch and stream redaction behavior
    val emailRe = graft.ops.PiiPatterns.Email
    val ipRe = graft.ops.PiiPatterns.Ipv4
    val numRe = graft.ops.PiiPatterns.LongNumber
    import org.apache.spark.sql.functions.{coalesce, concat, lit}
    docs
      .withWatermark("ts", "2 hours")
      // null-safe dedup key: md5(null) is null for EVERY null-text doc and
      // dropDuplicates treats null keys as equal — distinct null-text docs
      // must flow through (flagged low-quality), not vanish as "duplicates"
      .withColumn("content_md5", coalesce(
        org.apache.spark.sql.functions.md5(col("text")),
        concat(lit("null:"), col("doc_id"))))
      .dropDuplicatesWithinWatermark("content_md5")
      .withColumn("redacted",
        org.apache.spark.sql.functions.regexp_replace(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.regexp_replace(
              col("text"), emailRe, "[EMAIL]"), ipRe, "[IP]"), numRe, "[NUM]"))
      .withColumn("n_tokens", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(col("text"), " ")).cast("long"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .withColumn("quality_ok", coalesce(
        col("n_tokens") >= 3 && col("n_chars") >= 20 &&
          col("n_chars") <= 100000 &&
          (col("n_chars") <= col("n_tokens") * 40),
        lit(false))) // null text: emitted, flagged, never dropped
      .select(col("doc_id"), col("ts"), col("lang"), col("redacted"),
        col("n_tokens"), col("n_chars"), col("quality_ok"))
  }

  /** Streaming trending terms: watermarked tumbling-window word counts —
    * the continuous form of q73's vocabulary statistics. Word extraction
    * is a narrow explode; the windowed count is partial-aggregable with
    * state bounded by (open windows × live vocabulary); counts FINALIZE
    * in append mode once the watermark passes the window end. The top-k
    * cut belongs on the finalized sink: rank-over-window is not
    * expressible mid-stream, and the stream's job is the heavy
    * incremental part, not the k-row skim. Input schema as
    * [[docQualityGate]]. */
  def trendingTerms(docs: DataFrame, windowMinutes: Int = 60): DataFrame =
    docs
      .withWatermark("ts", "2 hours")
      .select(col("ts"), explode(split(col("text"), " ")).as("word"))
      .where(col("word").isNotNull && col("word") =!= "")
      .groupBy(window(col("ts"), s"$windowMinutes minutes"), col("word"))
      .count()
      .select(col("window.start").as("window_start"), col("word"),
        col("count").as("n"))

  /** X94's continuous form — streaming distribution-drift feed: per
    * tumbling hour, the corpus length-band counts with the static
    * baseline share joined on — the live half of the drift alert. The
    * stream does the incremental work (watermarked windowed counts,
    * finalized in append mode); the share/drift skim runs on the
    * finalized sink, where the per-window total is known — the same
    * division of labor as [[trendingTerms]]. The baseline frame is
    * band-cardinality-sized and broadcast; input schema as
    * [[docQualityGate]], baseline columns (band, share_ppm). */
  def bandDriftFeed(docs: DataFrame, baseline: DataFrame): DataFrame =
    docs
      .withWatermark("ts", "2 hours")
      .select(col("ts"), graft.ops.TextOps.lengthBand("length(text)").as("band"))
      .groupBy(window(col("ts"), "1 hour"), col("band"))
      .count()
      .join(broadcast(baseline), Seq("band"), "left")
      .select(col("window.start").as("window_start"), col("band"),
        col("count").as("n_docs"),
        col("share_ppm").as("baseline_share_ppm"))

  /** Streaming incremental dedup against a standing corpus — the
    * streaming face of the batch batch-vs-corpus dedup (q92's exact
    * pass): each arriving document is flagged when its content hash
    * already exists in the static corpus, after in-stream dedup within
    * the watermark (a doc duplicated both in-stream and in-corpus is
    * emitted once, flagged).
    *
    * Scale: the corpus side is a STATIC md5-key projection (8+32 bytes a
    * row, no text payload) joined per micro-batch — broadcast when it
    * fits, shuffled stream-static hash join when it does not; per-batch
    * state beyond the watermarked dedup set is zero. Input schema as
    * [[docQualityGate]]. */
  def incrementalDedupStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, concat, lit, md5}
    val corpusHashes = corpus
      .select(md5(col("text")).as("content_md5"))
      .where(col("content_md5").isNotNull)
      .distinct()
      .withColumn("in_corpus", lit(true))
    docs
      .withWatermark("ts", "2 hours")
      .withColumn("content_md5", coalesce(md5(col("text")),
        concat(lit("null:"), col("doc_id"))))
      .dropDuplicatesWithinWatermark("content_md5")
      .join(corpusHashes, Seq("content_md5"), "left")
      .select(col("doc_id"), col("ts"), col("lang"),
        coalesce(col("in_corpus"), lit(false)).as("dup_of_corpus"))
  }

  /** Stream–stream interval join (the streaming face of the as-of join,
    * batch form `EventOps.q51AsofJoin`): clicks matched to error events of
    * the same user within the preceding 30 minutes. Both sides are
    * watermarked so the join state (the error buffer) is bounded — without
    * the time-range predicate + watermarks, stream-stream equi-joins must
    * retain unbounded state. */
  def clickErrorJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("event_id").as("err_id"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "1 hour")
    clicks.join(errors,
      col("user_id") === col("err_user") &&
        col("err_ts") <= col("click_ts") &&
        col("err_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("err_id"),
        col("click_ts"), col("err_ts"))
  }

  final case class FunnelUpdate(user_id: Long, stage: Int,
      view_ts: Long, click_ts: Long, purchase_ts: Long)

  /** Streaming ordered funnel (view → click → purchase) — the streaming
    * face of [[graft.ops.EventOps.q78Funnel]]: per user, a 3-slot stage
    * machine that latches the first view, the first click at-or-after it,
    * and the first purchase at-or-after that, emitting the user's current
    * stage every micro-batch.
    *
    * A `bufferedFold` caller: the FINALIZED stage fold (three longs)
    * plus the (µs, rank, event_id) events the watermark has not yet
    * passed. An out-of-order-but-valid event (a view arriving after the
    * click that follows it) still slots correctly, because nothing
    * at-or-after the watermark has been irrevocably consumed; the emitted
    * update folds the buffer provisionally, so per-batch output stays
    * incremental while the state converges to exactly the batch fold.
    * Times compare in µs: at ms a click strictly (but sub-millisecond)
    * earlier than its view would latch, diverging from q78's `>=`. */
  def funnel(events: Dataset[Event]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    val rank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    def fold(s0: (Long, Long, Long),
             evs: Seq[(Long, Int, Long)]): (Long, Long, Long) =
      evs.foldLeft(s0) { case ((v, c, p), (t, r, _)) =>
        r match {
          case 0 if v < 0 => (t, c, p)
          case 1 if v >= 0 && c < 0 && t >= v => (v, t, p)
          case 2 if c >= 0 && p < 0 && t >= c => (v, c, t)
          case _ => (v, c, p)
        }
      }
    bufferedFold(events)((-1L, -1L, -1L))(
      e => rank.get(e.event_type).map(r => (micros(e.ts), r, e.event_id))) {
      (user, done, fin, pend) =>
        val stages = fold(done, fin)
        val (pv, pc, pp) = fold(stages, pend) // provisional output
        (stages, Iterator.single(
          FunnelUpdate(user, Seq(pv, pc, pp).count(_ >= 0), pv, pc, pp)))
    }
  }

  final case class AttributionUpdate(purchase_id: Long, user_id: Long,
      click_id: Long, gap_minutes: Long, finalized: Boolean)

  /** Streaming last-touch attribution — the in-flight form of the q141
    * batch operator: every purchase is credited to the user's most recent
    * prior click within the lookback, with the attribution emitted as the
    * purchase arrives rather than at end of day.
    *
    * A `bufferedFold` caller whose fold is the last FINALIZED click (µs,
    * event_id) and whose events are (µs, event_id, 0=click|1=purchase),
    * in q141's (µs, event_id) total order. Only events below the
    * watermark advance the click slot, so an out-of-order click that
    * precedes a buffered purchase still wins. Purchases below the
    * watermark emit their FINAL attribution exactly once; buffered ones
    * emit provisional rows (`finalized = false`) that later batches
    * refine. State is two longs + a horizon-bounded buffer per user; in
    * batch mode everything finalizes and the output matches q141 row for
    * row. */
  def attributionFeed(events: Dataset[Event],
      lookbackDays: Int = 7): Dataset[AttributionUpdate] = {
    import events.sparkSession.implicits._
    val lookUs = lookbackDays * 86400L * 1000000L
    val kind = Map("click" -> 0, "purchase" -> 1)
    bufferedFold(events)((-1L, -1L))(
      e => kind.get(e.event_type).map(k => (micros(e.ts), e.event_id, k))) {
      (user, last, fin, pend) =>
        val out = List.newBuilder[AttributionUpdate]
        // credits each purchase to the click slot, which each click advances
        def walk(click: (Long, Long), evs: List[(Long, Long, Int)],
                 finalized: Boolean): (Long, Long) =
          evs.foldLeft(click) { case ((cUs, cId), (us, id, k)) =>
            if (k == 0) (us, id)
            else {
              val hit = cUs >= 0 && us - cUs <= lookUs
              out += AttributionUpdate(id, user, if (hit) cId else -1L,
                if (hit) (us - cUs) / 60000000L else -1L, finalized)
              (cUs, cId)
            }
          }
        val done = walk(last, fin, finalized = true)
        walk(done, pend, finalized = false)
        (done, out.result().iterator)
    }
  }

  /** File-source incremental sync: watch a directory of parquet drops and
    * maintain the hourly rollup — the streaming upgrade of the reference's
    * batch re-runs. */
  def incrementalSync(spark: SparkSession, watchDir: String,
                      checkpointDir: String, outDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(watchDir)
    hourlyCounts(stream).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  /** Streaming secret/credential gate — q246's detectors applied at
    * ingest (X213's continuous form): a leaked key caught here never
    * reaches the corpus. ONE detector definition
    * ([[graft.ops.SecretPatterns]] via `PipelineOps.secretCounts`) shared
    * with the batch audit, so gate and audit can never silently diverge.
    * Stateless narrow projection — scales at ingest throughput with zero
    * state. Input schema as [[docQualityGate]]. */
  def secretGate(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    docs
      .withColumn("t", coalesce(col("text"), lit("")))
      .select((Seq(col("doc_id"), col("ts"), col("lang")) ++
        graft.ops.PipelineOps.secretCounts("t")): _*)
      .withColumn("has_secret",
        when(col("n_hex_runs") + col("n_aws_keys") + col("n_cred_assign") > 0,
          lit(1L)).otherwise(lit(0L)))
  }

  /** X335 — streaming trained-classifier gate, q353's real-stream twin:
    * the learned NB quality filter applied AT INGEST, where a corpus cut
    * actually runs — each arriving document scores through the SAME
    * codegen'd projection q334/q353 use (`PipelineOps.q334ScoreExpr`
    * over the shared weights; divergent copies would silently split the
    * batch and stream verdicts, the secretGate rule) and the running
    * per-(lang, source) composition — docs, kept docs, chars, kept
    * chars under the trained [[graft.ops.PipelineOps.q334ChosenThr]]
    * operating point — refreshes every micro-batch: the live form of
    * q353's composition-shift report, read BEFORE the cut ships.
    *
    * Scale: the scoring projection is stateless and narrow (ingest
    * throughput, zero per-doc state); the only standing state is the
    * |lang×source|-keyed running aggregate — bounded keys, partial-
    * aggregable, exactly the streaming-agg shape Spark maintains
    * incrementally. StreamingSpec pins the final snapshot row-identical
    * to the oracle-gated q353 frame's thr-cut columns on the same
    * documents. Input schema: (doc_id, ts, lang, source, n_chars,
    * text). */
  def classifierGate(docs: DataFrame): DataFrame = {
    graft.functions.Fingerprint.register(docs.sparkSession)
    val weights = graft.ops.PipelineOps.q334Weights
    val thr = graft.ops.PipelineOps.q334ChosenThr(weights)
    docs
      .withWatermark("ts", "2 hours")
      .withColumn("keep",
        (graft.ops.PipelineOps.q334ScoreExpr(weights) >= thr).cast("long"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_keep"),
        sum(col("n_chars")).as("chars_total"),
        sum(col("n_chars") * col("keep")).as("chars_kept"))
  }

  /** X341 — streaming PSI band feed, q362's real-stream twin: the
    * deployed filter's live score distribution, banded against the
    * DEPLOYMENT SNAPSHOT's decile edges (a 9-element bounded argument —
    * the batch monitor computes them once via
    * `PipelineOps.decileEdges`, the single shared definition, and
    * ships them to the gate as constants). Each arriving document
    * scores through the SHARED q334 projection and lands in the band
    * counting `edges < score` — a constant 9-lambda fold, stateless
    * and narrow; the only standing state is the 10-key band aggregate,
    * refreshed every micro-batch. The PSI skim (shares, quarter-bit
    * logs, verdict) runs on the finalized snapshot where the totals
    * are known — the trendingTerms division of labor. StreamingSpec
    * pins the final band counts' derived shares row-identical to the
    * oracle-gated q362 frame's current-side (q_ppm) column on the same
    * documents. Input schema: (doc_id, ts, text, ...). */
  def psiBandFeed(docs: DataFrame, edges: Seq[Long]): DataFrame = {
    graft.functions.Fingerprint.register(docs.sparkSession)
    val weights = graft.ops.PipelineOps.q334Weights
    val bandExpr =
      s"size(filter(array(${edges.mkString("L, ")}L), e -> e < score))"
    docs
      .withWatermark("ts", "2 hours")
      .withColumn("score", graft.ops.PipelineOps.q334ScoreExpr(weights))
      .withColumn("band", expr(bandExpr).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"))
  }

  final case class LatenessState(frontier: Long,
      byType: Map[String, (Long, Long, Long, Long)])

  final case class LatenessUpdate(event_type: String, n_events: Long,
      n_late: Long, max_late_us: Long, sum_late_us: Long, late_ppm: Long)

  /** Streaming watermark-lateness audit — the real-stream twin of q249
    * (X217): per event type, the running distribution of how far events
    * arrive behind the GLOBAL event-time frontier, emitted as refreshed
    * per-type rows each micro-batch (Update mode). The watermark delay is
    * an input precisely because sizing it is what the audit is FOR — the
    * deployment loop is q249 measures max_late_us, the stream runs with a
    * delay at or above it (default 2 hours, X21's convention), and this
    * feed confirms the measured lateness stays inside the configured
    * delay (no row older than the watermark ever reaches the operator,
    * so the audit and the batch frame cannot diverge by silent drops).
    *
    * Arrival order inside a micro-batch is restored by the same
    * (batch, shard, event_id) collector model q249 uses — micro-batch
    * iterators do not preserve receiver order. Any prefix-split of the
    * modeled sequence across micro-batches re-sorts to the identical
    * global order, so the finalized rows equal the oracle-gated q249
    * frame row for row (StreamingSpec pins it).
    *
    * Scale: the frontier is global BY DEFINITION (q249's batch form needs
    * the GlobalOrder prefix-max primitive for the same reason), so the
    * stateful fold is one task per micro-batch over that batch's rows
    * with |types|-sized state — receiver-side accounting, not corpus
    * work; a deployment that cannot afford the consistency point shards
    * the audit per collector and reconciles with the batch q249 run. */
  def latenessAudit(events: Dataset[Event],
      watermarkDelay: String = "2 hours"): Dataset[LatenessUpdate] = {
    import events.sparkSession.implicits._
    scopedFold(events.withWatermark("ts", watermarkDelay))(_ => 0)(
      LatenessState(Long.MinValue, Map.empty)) { (_, st, rows) =>
      val ordered = rows.toSeq.sortBy(e =>
        (e.event_id / 64L, Math.floorMod(e.user_id, 4L), e.event_id))
      var frontier = st.frontier
      var acc = st.byType
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      ordered.foreach { e =>
        val us = micros(e.ts)
        val late =
          if (frontier == Long.MinValue) 0L
          else math.max(frontier - us, 0L)
        val (n, nl, mx, sm) = acc.getOrElse(e.event_type, (0L, 0L, 0L, 0L))
        acc = acc.updated(e.event_type,
          (n + 1L, nl + (if (late > 0L) 1L else 0L),
            math.max(mx, late), sm + late))
        touched += e.event_type
        if (us > frontier) frontier = us
      }
      (LatenessState(frontier, acc), touched.iterator.map { t =>
        val (n, nl, mx, sm) = acc(t)
        LatenessUpdate(t, n, nl, mx, sm, nl * 1000000L / n)
      })
    }
  }

  final case class EwmaState(pending: Map[Long, Long], s: Long, c: Long,
      eE: Long, eN: Long, seen: Long, total: Long)

  final case class EwmaUpdate(event_type: String, n_days: Long,
      total_events: Long, ewma_abs_err_milli: Long, naive_abs_err_milli: Long,
      skill_ppm: Long)

  /** Streaming EWMA forecast/anomaly feed — q258's real-stream twin
    * (X227): per event type, the daily-count EWMA backtest maintained
    * incrementally. A day FINALIZES into the smoother once a later day
    * arrives for that type (the per-type event-time frontier); days still
    * at the frontier fold provisionally into each emitted row, so every
    * Update-mode emission is the exact q258 row over the data seen so far
    * and the final emission equals the oracle-gated q258 frame
    * (StreamingSpec pins it). The EWMA recurrence is the identical
    * integer-milli arithmetic — sequential BY DESIGN, which is exactly
    * why the day-finalization order must be deterministic (day order,
    * guaranteed by the frontier rule regardless of micro-batch splits).
    *
    * Scale: keyed by event_type, so state partitions across executors
    * (no global consistency point — unlike [[latenessAudit]]'s frontier,
    * the smoother is per-type by definition); state is the 6-long EWMA
    * tuple plus the pending day map, bounded by the watermark horizon. */
  def ewmaFeed(events: Dataset[Event],
      watermarkDelay: String = "2 hours"): Dataset[EwmaUpdate] = {
    import events.sparkSession.implicits._
    scopedFold(events.withWatermark("ts", watermarkDelay))(_.event_type)(
      EwmaState(Map.empty, 0L, 0L, 0L, 0L, 0L, 0L)) { (t, st0, rows) =>
      var pending = st0.pending
      var total = st0.total
      rows.foreach { e =>
        val d = micros(e.ts) / 86400000000L
        pending = pending.updated(d, pending.getOrElse(d, 0L) + 1L)
        total += 1L
      }
      // q258's fold step, shared by finalization and provisional view
      def step(acc: (Long, Long, Long, Long, Long), cnt: Long) = {
        val (s, c, eE, eN, seen) = acc
        if (seen == 0L) (cnt * 1000L, cnt, 0L, 0L, 1L)
        else ((300L * cnt * 1000L + 700L * s) / 1000L, cnt,
          eE + math.abs(cnt * 1000L - s),
          eN + math.abs(cnt - c) * 1000L, seen + 1L)
      }
      val frontier =
        if (pending.isEmpty) Long.MinValue else pending.keys.max
      val (fin, keep) = pending.partition(_._1 < frontier)
      val folded = fin.toSeq.sortBy(_._1).map(_._2)
        .foldLeft((st0.s, st0.c, st0.eE, st0.eN, st0.seen))(step)
      val prov = keep.toSeq.sortBy(_._1).map(_._2).foldLeft(folded)(step)
      (EwmaState(keep, folded._1, folded._2, folded._3, folded._4, folded._5,
        total), Iterator.single(EwmaUpdate(t, prov._5, total, prov._3,
        prov._4, if (prov._4 == 0L) -1L else prov._3 * 1000000L / prov._4)))
    }
  }

  final case class CusumUpdate(day: Long, idx: Long, x: Long,
      s_pos: Long, s_neg: Long, alarm: Long)

  /** Streaming CUSUM changepoint gate — q285's real-stream twin (X255):
    * the volume monitor maintained continuously over an event stream.
    * State is the per-day count map (calendar-bounded, like
    * [[latenessAudit]]'s |types|-sized accounting); each micro-batch
    * folds new arrivals into it and replays the IDENTICAL q285 recipe —
    * baseline T0 from the first 7 observed days, the planted day-16
    * shift, the scaled integer recurrences — emitting the full per-day
    * CUSUM table in Update mode. Rows before the 7-day baseline
    * completes emit nothing (T0 is undefined — exactly when a production
    * monitor stays silent during warm-up); afterwards every emission is
    * the exact q285 frame over the data seen so far, so the final
    * emission per day equals the ORACLE-GATED q285 frame (StreamingSpec
    * pins it).
    *
    * Scale: the key is global BY DEFINITION (one series, one alarm
    * state — q285's argument); the stateful fold is one task per
    * micro-batch over |days| integers. Per-stream monitoring partitions
    * the same fold by stream key, exactly as q258/ewmaFeed partitions
    * by type. */
  def cusumGate(events: Dataset[Event],
      watermarkDelay: String = "2 hours"): Dataset[CusumUpdate] = {
    import events.sparkSession.implicits._
    scopedFold(events.withWatermark("ts", watermarkDelay))(_ => 0)(
      Map.empty[Long, Long]) { (_, m0, rows) =>
      val m = rows.foldLeft(m0) { (m, e) =>
        val d = micros(e.ts) / 86400000000L
        m.updated(d, m.getOrElse(d, 0L) + 1L)
      }
      val days = m.toSeq.sortBy(_._1)
      (m, if (days.size < 7) Iterator.empty
      else {
        val xs = days.zipWithIndex.map { case ((d, n), i) =>
          (d, i + 1L, if (i + 1 >= 16) n + n / 4 else n)
        }
        val t0 = xs.take(7).map(_._3).sum
        var sp = 0L; var sn = 0L
        xs.iterator.map { case (d, idx, x) =>
          sp = math.max(0L, sp + 7L * x - t0 - t0 / 10L)
          sn = math.max(0L, sn - 7L * x + t0 - t0 / 10L)
          CusumUpdate(d, idx, x, sp, sn,
            if (sp > t0 / 2L || sn > t0 / 2L) 1L else 0L)
        }
      })
    }
  }

  final case class SprtTrial(scope: String, idx: Long, conv: Long)

  final case class SprtStatus(scope: String, n_trials: Long, n_conv: Long,
      rate_ppm: Long, decision: Long, batch_dec: Long, n_dec: Long,
      llr_dec: Long, bound: Long)

  /** Streaming SPRT experiment gate — q363's real-stream twin (X347):
    * the early-stopping monitor maintained continuously over a trial
    * stream. The batched LLR walk is naturally incremental — the ONLY
    * state is the per-batch (n, k) count map (horizon-bounded:
    * trials/batchSize entries, [[cusumGate]]'s day-map discipline), keyed
    * by experiment scope so independent experiments ride one query.
    * Each micro-batch folds arrivals into the map (any arrival order —
    * the batch index comes from the trial index, not wall time) and
    * replays the IDENTICAL q363 walk
    * ([[graft.ops.PipelineOps.sprtWalk]] — ONE definition, the
    * secretGate rule) over the data seen so far, emitting the scope's
    * current verdict row: a crossed Wald boundary freezes the decision
    * exactly as the batch walk does, and an uncrossed walk emits the
    * no-decision-yet carry row (decision 0, the running LLR) — the row
    * a dashboard shows while the experiment is still inconclusive.
    * Every emission is the exact q363 frame over arrivals so far, so
    * the final emission per scope equals the ORACLE-GATED q363 row
    * (StreamingSpec pins it, including an intermediate carry emission).
    *
    * Scale: state is |batches| pairs per scope; the walk is a driver-
    * side fold over that bounded map per emission; scopes partition
    * across executors. */
  def sprtGate(trials: Dataset[SprtTrial],
      batchSize: Long = 250L): Dataset[SprtStatus] = {
    import trials.sparkSession.implicits._
    scopedFold(trials)(_.scope)(Map.empty[Long, (Long, Long)]) {
      (scope, m0, rows) =>
        val m = rows.foldLeft(m0) { (m, t) =>
          val b = t.idx / batchSize
          val (n, k) = m.getOrElse(b, (0L, 0L))
          m.updated(b, (n + 1L, k + t.conv))
        }
        val bs = m.toSeq.sortBy(_._1).map { case (b, (n, k)) => (b, n, k) }
        val (dec, bDec, nDec, llrDec, nT, kT) =
          graft.ops.PipelineOps.sprtWalk(bs)
        (m, Iterator.single(SprtStatus(scope, nT, kT,
          if (nT == 0L) 0L else kT * 1000000L / nT,
          dec, bDec, nDec, llrDec, graft.ops.PipelineOps.SprtBound)))
    }
  }

  final case class F2Obs(scope: String, key: String)

  final case class F2State(n: Long, zs: Seq[Long])

  final case class F2Row(scope: String, rep: Long, z_or_n: Long,
      estimate: Long)

  /** Streaming AMS/Tug-of-War F2 feed — q369's real-stream twin (the
    * sketch lane's cheapest possible streaming member): the sketch
    * state is [[graft.ops.PipelineOps.AmsReps]] sign sums plus a count,
    * and Z is LINEAR in the rows, so a micro-batch folds into the
    * standing state with 32 integer additions per arrival — the
    * add-mergeability q369's spec proves is exactly what makes the
    * stream form trivial. Signs come from the ONE shared definition
    * ([[graft.ops.PipelineOps.amsSign]], q369's measured squared-tail
    * family, salt 'ams'), and the per-emission skim (Z² estimates,
    * unbiased mean, 8×4 median-of-means) is the SHARED
    * [[graft.ops.PipelineOps.amsMeanMom]] — the sprtWalk rule on both
    * halves. Emissions mirror q369's estimator rows; rep 97 carries the
    * running row count with a 0 estimate (the exact F2 needs a key-space
    * groupBy a stream cannot afford — the batch audit owns the truth
    * leg, so the feed's 97 row is honest about not knowing it).
    * StreamingSpec drives the SAME corpus keys through chunked
    * micro-batches and pins the final emissions row-identical to the
    * oracle-gated q369 frame's estimator/mean/MoM rows.
    *
    * Scale: state is 33 longs per scope; a thousand concurrent scopes
    * cost a thousand small vectors, and shards of one scope merge by
    * addition (the mergeable-sketch lane's contract). */
  def f2Feed(obs: Dataset[F2Obs]): Dataset[F2Row] = {
    import obs.sparkSession.implicits._
    val r = graft.ops.PipelineOps.AmsReps
    scopedFold(obs)(_.scope)(F2State(0L, Seq.fill(r)(0L))) {
      (scope, st0, rows) =>
        var n = st0.n
        val zs = st0.zs.toArray
        rows.foreach { o =>
          n += 1L
          var i = 0
          while (i < r) {
            zs(i) += graft.ops.PipelineOps.amsSign("ams", i, o.key)
            i += 1
          }
        }
        val (mean, mom) = graft.ops.PipelineOps.amsMeanMom(zs.toSeq)
        val est = (0 until r).map(i =>
          F2Row(scope, i.toLong, zs(i), zs(i) * zs(i)))
        (F2State(n, zs.toSeq), (est ++ Seq(
          F2Row(scope, 97L, n, 0L),
          F2Row(scope, 98L, r.toLong, mean),
          F2Row(scope, 99L, (r / 4).toLong, mom))).iterator)
    }
  }

  final case class CbfOp(scope: String, op: String, key: Long)

  final case class CbfRow(scope: String, key: Long, present: Long)

  /** Streaming counting-Bloom membership gate — q393's real-stream twin
    * and the membership member of the retraction trio (retractGate,
    * q393, this): the counter array IS streaming state (insert +1,
    * delete −1 per position — the deletability that q279's bit Bloom
    * cannot stream), positions come from the ONE shared
    * [[graft.ops.PipelineOps.cbfPositions]] definition, and 'probe'
    * records emit a membership verdict against the counters AS OF
    * their batch — the order-sensitivity that makes a streamed filter
    * different from a batch one is the semantics, not a bug, and the
    * spec drives q393's exact insert → probe → delete → re-probe
    * scenario and pins every verdict count row-identical to the
    * oracle-gated q393 frame's legs.
    *
    * Scale: state is the ≤ m-entry counter map per scope (zero
    * counters are dropped on write, so the map holds only live
    * positions); per arrival O(k) updates. */
  def cbfGate(ops: Dataset[CbfOp]): Dataset[CbfRow] = {
    import ops.sparkSession.implicits._
    scopedFold(ops)(_.scope)(Map.empty[Long, Long]) { (scope, counts0, rows) =>
      var counts = counts0
      val out = scala.collection.mutable.ArrayBuffer.empty[CbfRow]
      rows.foreach { o =>
        val ps = graft.ops.PipelineOps.cbfPositions(o.key)
        o.op match {
          case "add" => ps.foreach(h =>
            counts = counts.updated(h, counts.getOrElse(h, 0L) + 1L))
          case "del" => ps.foreach { h =>
            val v = counts.getOrElse(h, 0L) - 1L
            counts = if (v <= 0L) counts - h else counts.updated(h, v)
          }
          case _ => out += CbfRow(scope, o.key,
            if (ps.forall(h => counts.getOrElse(h, 0L) > 0L)) 1L else 0L)
        }
      }
      (counts, out.iterator)
    }
  }

  final case class SrmObs(scope: String, arm: Long, pAPpm: Long)

  final case class SrmState(nA: Long, nB: Long, pAPpm: Long)

  final case class SrmRow(scope: String, n_a: Long, n_b: Long,
      x2_milli: Long, srm: Long)

  /** Streaming sample-ratio-mismatch gate — q394's real-stream twin and
    * the cheapest possible experiment-integrity monitor: state is TWO
    * counters (+ the intended ratio) per experiment scope, the χ² is
    * the ONE shared [[graft.ops.PipelineOps.srmX2Milli]] definition
    * (the sprtWalk rule), and the verdict re-emits per micro-batch —
    * which is the operational point: SRM sensitivity grows with n (the
    * q394 scaladoc measures a crash that clears the bar at 16.7% loss
    * but not 8.3% at n = 1500), so platforms watch the statistic
    * CONTINUOUSLY and abort the experiment the batch it first fires
    * rather than discovering the corruption at readout. StreamingSpec
    * drives the exact q394 healthy and crashed assignments in chunks
    * and pins the final emissions row-identical to the oracle-gated
    * q394 frame's legs.
    *
    * Scale: 3 longs of state per experiment; a thousand concurrent
    * experiments cost a thousand counter pairs. */
  def srmGate(obs: Dataset[SrmObs]): Dataset[SrmRow] = {
    import obs.sparkSession.implicits._
    scopedFold(obs)(_.scope)(SrmState(0L, 0L, 500000L)) { (scope, st0, rows) =>
      var (na, nb, p) = (st0.nA, st0.nB, st0.pAPpm)
      rows.foreach { o =>
        if (o.arm == 0L) na += 1L else nb += 1L
        p = o.pAPpm
      }
      val x2 = graft.ops.PipelineOps.srmX2Milli(na, nb, p)
      (SrmState(na, nb, p), Iterator.single(SrmRow(scope, na, nb, x2,
        if (x2 > 3841L) 1L else 0L)))
    }
  }

  final case class MgObs(scope: String, word: String)

  final case class MgState(counts: Map[String, Long], total: Long)

  final case class MgRow(scope: String, word: String, mg_count: Long,
      n_total: Long, max_undercount: Long)

  /** Streaming Misra-Gries heavy-hitter gate — q100's real-stream twin:
    * the candidate-tracking half of the heavy-hitter pipeline run
    * directly on the stream, with state = the ≤ k live effective
    * counters plus the running total (MG state is FULLY characterized
    * by its effective counts, so a rebuild-from-state micro-batch fold
    * is algorithm-identical to one long sequential run — which is what
    * the spec pins). Every arrival runs the ONE shared
    * [[graft.functions.MisraGries]].reduce (the sprtWalk rule: the
    * batch sketch and this gate cannot drift), with k =
    * [[graft.ops.CorpusOps.MgK]]. Emissions per batch: each live
    * candidate with its MG count, the running N, and the
    * (N − Σcounters) div (k+1) undercount bound — MG's published
    * guarantee: every item with true count > N/(k+1) is live, and a
    * live counter underestimates by at most that bound. The exact
    * recount (q100's second pass) stays a batch job by design — the
    * stream names WHO to recount, which is the half that cannot wait.
    *
    * Scale: state is ≤ k (word, count) pairs per scope — never the
    * vocabulary; the per-arrival work is O(1) amortized (the base-bump
    * trick), and shards of one scope would merge by the Agarwal et al.
    * mergeable-summary rule the batch aggregator already implements. */
  def mgGate(obs: Dataset[MgObs],
             k: Int = graft.ops.CorpusOps.MgK): Dataset[MgRow] = {
    import obs.sparkSession.implicits._
    scopedFold(obs)(_.scope)(MgState(Map.empty, 0L)) { (scope, st0, rows) =>
      val agg = new graft.functions.MisraGries(k)
      val buf = new graft.functions.MGBuffer(
        scala.collection.mutable.HashMap(st0.counts.toSeq: _*),
        scala.collection.mutable.HashMap.empty,
        0L, st0.counts.size.toLong, st0.total)
      st0.counts.values.foreach(v =>
        buf.hist.update(v, buf.hist.getOrElse(v, 0L) + 1L))
      rows.foreach(o => agg.reduce(buf, o.word))
      val eff = buf.effective
      val slack = (buf.total - eff.values.sum) / (k + 1L)
      (MgState(eff, buf.total), eff.toSeq.sortBy(_._1).map { case (w, c) =>
        MgRow(scope, w, c, buf.total, slack)
      }.iterator)
    }
  }

  final case class IvmDelta(ck: Long, cents: Long, op: Long)

  final case class IvmState(n: Long, sm: Long, mn: Long, mx: Long,
      dirty: Long)

  final case class IvmRow(ck: Long, n: Long, sm: Long, mn: Long, mx: Long,
      dirty: Long)

  /** Streaming retraction-aware IVM gate — q380's real-stream twin,
    * with the division of labor the batch operator's scaladoc derives:
    * count/sum RETRACT exactly in O(1) state per group, min/max cannot
    * (a delete that ties the extreme makes the new extreme unknowable
    * from bounded state), so the stream maintains the extremes
    * OPTIMISTICALLY and raises a per-group DIRTY flag the moment a
    * delete ties one — the flag is the batch repair pass's work list
    * (exactly the set q380 recomputes group-locally), and a dirty
    * group's emitted extremes are explicitly unusable until repaired.
    * Fully-deleted groups emit n = 0 (the view drop) and reset.
    *
    * Scale: state is 5 longs per group, never a value multiset — the
    * alternative (per-group heaps) is the published trade this gate
    * deliberately refuses; dirty groups are repair work, not state. */
  def retractGate(deltas: Dataset[IvmDelta]): Dataset[IvmRow] = {
    import deltas.sparkSession.implicits._
    val empty = IvmState(0L, 0L, Long.MaxValue, Long.MinValue, 0L)
    scopedFold(deltas)(_.ck)(empty) { (ck, st0, rows) =>
      val st = rows.foldLeft(st0) { (st, d) =>
        val next =
          if (d.op >= 0L)
            IvmState(st.n + 1L, st.sm + d.cents,
              math.min(st.mn, d.cents), math.max(st.mx, d.cents), st.dirty)
          else {
            val dirty = if (st.n > 1L && (d.cents == st.mn || d.cents == st.mx))
              1L else st.dirty
            IvmState(st.n - 1L, st.sm - d.cents, st.mn, st.mx, dirty)
          }
        if (next.n == 0L) empty else next
      }
      (st, Iterator.single(IvmRow(ck, st.n, st.sm,
        if (st.n == 0L) 0L else st.mn,
        if (st.n == 0L) 0L else st.mx, st.dirty)))
    }
  }

  final case class UrlState(minDocId: Long, nDocs: Long, raw: Set[String])

  final case class UrlUpdate(canonical_url: String, min_doc_id: Long,
      n_docs: Long, n_raw_urls: Long)

  /** Streaming canonical-URL dedup gate — q269's continuous form (X243):
    * a crawl frontier deduplicates URLs at ingest, and byte-keyed state
    * balloons with every tracking-param permutation of the same page.
    * Keyed by `canonical_url` through THE one canonicalization
    * definition ([[graft.ops.TextOps.withCanonicalUrl]], shared with the
    * batch audit — gate and audit must agree on what "the same URL" is),
    * each key's state tracks first-seen doc, fetch count, and the
    * distinct raw spellings (capped at 1024 per key — beyond the cap the
    * variant count saturates rather than growing state without bound;
    * dedup verdicts never need more). Update-mode refreshes per
    * micro-batch.
    *
    * Scale: state partitions by canonical key across executors — no
    * global consistency point; per-key state is variants-bounded. */
  def urlDedupGate(docs: DataFrame): Dataset[UrlUpdate] = {
    import docs.sparkSession.implicits._
    val urls = graft.ops.TextOps.withCanonicalUrl(
      docs.withColumn("t2", coalesce(col("text"), lit(""))))
      .select(col("canonical_url"), col("doc_id"), col("u"))
      .as[(String, Long, String)]
    scopedFold(urls)(_._1)(UrlState(Long.MaxValue, 0L, Set.empty)) {
      (key, st0, rows) =>
        var (minId, n, raw) = (st0.minDocId, st0.nDocs, st0.raw)
        rows.foreach { case (_, id, u) =>
          minId = math.min(minId, id)
          n += 1L
          if (raw.size < 1024) raw += u
        }
        (UrlState(minId, n, raw),
          Iterator.single(UrlUpdate(key, minId, n, raw.size.toLong)))
    }
  }

  final case class ChatConv(user_id: Long, conv_idx: Long, n_turns: Long,
      n_user_turns: Long, n_assistant_turns: Long, n_system_turns: Long,
      n_same_role_pairs: Long, opener_bad: Long, dangling_tail: Long,
      n_empty_turns: Long, n_pii_turns: Long, n_secret_turns: Long,
      contract_ok: Long, transcript_fp: Long)

  /** Chat role of an event: purchases are assistant turns, errors system
    * turns, everything else user turns (q311/q327's role map). */
  private def role(eventType: String): String =
    if (eventType == "purchase") "assistant"
    else if (eventType == "error") "system" else "user"

  private def matches(pats: Seq[java.util.regex.Pattern], s: String): Boolean =
    pats.exists(_.matcher(s).find())

  /** X285 — streaming chat-contract gate: q311's real-stream twin. A
    * `gapSessions` caller with [[sessionize]]'s 30-minute gap whose
    * pending turn is (event_type, props) and which keeps the conversation
    * ordinal across empty state (the batch conv_idx counts the user's full
    * history). Each CLOSED conversation emits the IDENTICAL audit row as
    * the oracle-gated batch operator — same role map, same shared
    * [[graft.ops.PiiPatterns]]/[[graft.ops.SecretPatterns]] detectors, same
    * transcript fingerprint over the ordered role-tagged turns
    * (StreamingSpec pins the finalize output row-identical to the q311
    * frame). State is watermark-bounded: the pending turns of at most one
    * open conversation window per user plus one counter. */
  def chatContractGate(events: Dataset[Event], gapMinutes: Int = 30)
      : Dataset[ChatConv] = {
    import events.sparkSession.implicits._
    // compiled once on the driver, shipped serialized (java Pattern is
    // Serializable) — q254's lesson: never acquire per row what a
    // prologue can own
    val piiPat = Seq(graft.ops.PiiPatterns.Email, graft.ops.PiiPatterns.Ipv4,
      graft.ops.PiiPatterns.LongNumber).map(java.util.regex.Pattern.compile)
    val secretPat = Seq(graft.ops.SecretPatterns.HexRun,
      graft.ops.SecretPatterns.AwsKeyId, graft.ops.SecretPatterns.CredAssign)
      .map(java.util.regex.Pattern.compile)
    gapSessions(events, gapMinutes, keepOrdinal = true)(
      e => (e.event_type, Option(e.props).getOrElse(""))) { (user, idx, c) =>
      val roles = c.map(t => role(t._3._1))
      val texts = c.map(_._3._2)
      val samePairs = roles.sliding(2).count {
        case Seq(a, b) => a == b
        case _ => false
      }.toLong
      val opener = if (roles.head == "assistant") 1L else 0L
      val tail = if (roles.last == "user") 1L else 0L
      val empty = texts.count(_.trim.isEmpty).toLong
      val pii = texts.count(matches(piiPat, _)).toLong
      val secret = texts.count(matches(secretPat, _)).toLong
      val fp = graft.functions.Fingerprint.hashString(
        roles.zip(texts).map { case (r, t) => s"$r:$t" }.mkString("\n"))
      Iterator.single(ChatConv(user, idx, c.size.toLong,
        roles.count(_ == "user").toLong,
        roles.count(_ == "assistant").toLong,
        roles.count(_ == "system").toLong,
        samePairs, opener, tail, empty, pii, secret,
        if (samePairs + opener + tail + empty + pii + secret == 0L) 1L
        else 0L,
        fp))
    }
  }

  final case class PrefPair(user_id: Long, conv_idx: Long, prompt_fp: Long,
      n_candidates: Long, chosen_id: Long, rejected_id: Long,
      chosen_cents: Long, rejected_cents: Long, margin_cents: Long,
      pii_prompt: Long)

  /** X312 — streaming preference-pair gate: q327's real-stream twin. A
    * `gapSessions` caller exactly like [[chatContractGate]] (same gap,
    * same finalization rule, same running ordinal over EVERY closed
    * conversation, qualifying or not) whose pending turn is (event_type,
    * value, props). Each CLOSED conversation runs the IDENTICAL q327
    * selection contract — first turn must be a non-empty user prompt,
    * ≥ 2 assistant candidates, candidates sorted by (cents, event_id, fp)
    * with chosen = last / rejected = first, UNIQUE argmax and argmin,
    * strictly positive margin, distinct chosen/rejected fingerprints,
    * PII-flagged (not dropped) prompt via the shared
    * [[graft.ops.PiiPatterns]]. Cents replicate the batch
    * `CAST(round(value·100) AS BIGINT)` via [[cents]]. NON-qualifying
    * conversations still advance the ordinal — they emit nothing, exactly
    * like the batch filter. StreamingSpec pins the finalize output
    * row-identical to the oracle-gated q327 frame and the ordinal across a
    * closed-then-reopened state.
    *
    * Scale: state partitions by user across executors; pending turns
    * are bounded by one open conversation window per user (the
    * watermark closes everything older), and the emitted frame is
    * pair-sized. */
  def prefPairGate(events: Dataset[Event], gapMinutes: Int = 30)
      : Dataset[PrefPair] = {
    import events.sparkSession.implicits._
    val piiPat = Seq(graft.ops.PiiPatterns.Email, graft.ops.PiiPatterns.Ipv4,
      graft.ops.PiiPatterns.LongNumber).map(java.util.regex.Pattern.compile)
    gapSessions(events, gapMinutes, keepOrdinal = true)(
      e => (e.event_type, e.value, Option(e.props).getOrElse(""))) {
      (user, idx, c) =>
        val (firstType, _, prompt) = c.head._3
        // (cents, event_id, fp) — the batch array_sort order
        val cands = c.filter(t => role(t._3._1) == "assistant")
          .map(t => (cents(t._3._2), t._2,
            graft.functions.Fingerprint.hashString(t._3._3)))
          .sortBy(identity)
        if (role(firstType) != "user" || prompt.trim.isEmpty ||
          cands.size < 2) Iterator.empty
        else {
          val ch = cands.last; val rj = cands.head
          val nmax = cands.count(_._1 == ch._1)
          val nmin = cands.count(_._1 == rj._1)
          if (ch._1 > rj._1 && nmax == 1 && nmin == 1 && ch._3 != rj._3)
            Iterator.single(PrefPair(user, idx,
              graft.functions.Fingerprint.hashString(prompt),
              cands.size.toLong, ch._2, rj._2, ch._1, rj._1,
              ch._1 - rj._1,
              if (matches(piiPat, prompt)) 1L else 0L))
          else Iterator.empty
        }
    }
  }

  final case class MaskDoc(doc_id: Long, ts: Timestamp, source: String,
      text: String)
  final case class MaskRow(doc_id: Long, n_lines: Long, n_masked_lines: Long,
      n_spans: Long, masked_chars: Long, total_chars: Long, mask_ppm: Long,
      n_pii_lines: Long, n_secret_lines: Long, n_special_lines: Long,
      n_boiler_lines: Long, spans_fp: Long, kept_fp: Long)

  /** X288 — streaming loss-mask gate: q313's real-stream twin. Per
    * arriving document, the IDENTICAL line-granular mask annotation —
    * same shared PII/secret/special detectors (compiled once on the
    * driver), same frequent-line boilerplate rule via a STANDING boiler
    * frame computed batch-side (the blocklistGate pattern: corpus-level
    * state ships as a bounded static side, per-doc work stays
    * stateless), same gaps-and-islands span coalescing and span/kept
    * fingerprints — spec-pinned row-identical to the oracle-gated q313
    * frame. Stateless map: works unchanged on a stream or a batch. */
  def lossMaskGate(docs: Dataset[MaskDoc], boiler: DataFrame)
      : Dataset[MaskRow] = {
    import docs.sparkSession.implicits._
    val boilerMap: Map[String, Set[String]] = boiler
      .select(col("source").cast("string"), col("ln").cast("string"))
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    val piiPat = Seq(graft.ops.PiiPatterns.Email, graft.ops.PiiPatterns.Ipv4,
      graft.ops.PiiPatterns.LongNumber).map(java.util.regex.Pattern.compile)
    val secretPat = Seq(graft.ops.SecretPatterns.HexRun,
      graft.ops.SecretPatterns.AwsKeyId, graft.ops.SecretPatterns.CredAssign)
      .map(java.util.regex.Pattern.compile)
    val specialPat = Seq(graft.ops.PipelineOps.ReservedTokens,
      graft.ops.PipelineOps.ChatMarkers, graft.ops.PipelineOps.FimSentinels)
      .map(java.util.regex.Pattern.compile)
    docs.map { d =>
      def m(k: Long) = ((d.doc_id % k) + k) % k
      val sb = new StringBuilder(Option(d.text).getOrElse(""))
      sb.append("\n(C) ").append(d.source).append(" syndication network")
      if (m(3) != 2)
        sb.append("\nsubscribe at ").append(d.source).append(" daily digest")
      sb.append("\nsection ").append(m(7)).append(" notes")
      val em = s"\nreach me at user${m(1000)}@example.com"
      val sec = f"\ntoken=secretvaluepad${m(1000)}%03d"
      m(5) match {
        case 1L => sb.append(em)
        case 2L => sb.append(sec)
        case 3L => sb.append("\nstop <|endoftext|> marker ").append(m(7))
        case 4L => sb.append(em).append(sec)
        case _ =>
      }
      val ls = sb.toString.split("\n", -1)
      val bset = boilerMap.getOrElse(d.source, Set.empty)
      val pii = ls.map(matches(piiPat, _))
      val secF = ls.map(matches(secretPat, _))
      val spc = ls.map(matches(specialPat, _))
      val boi = ls.map(bset.contains)
      val masked = ls.indices.map(i => pii(i) || secF(i) || spc(i) || boi(i))
      // Codepoint lengths (not UTF-16 code units): batch q313 and the
      // DuckDB oracle count codepoints, and FpByteFold supports
      // supplementary-plane text, so offsets must match on 4-byte UTF-8.
      def cp(l: String): Long = l.codePointCount(0, l.length).toLong
      val offs = ls.scanLeft(0L)((a, l) => a + cp(l) + 1)
      val spans = ls.indices.filter(masked)
        .foldLeft(List.empty[(Long, Long)]) { case (acc, i) =>
          val (st, en) = (offs(i), offs(i) + cp(ls(i)))
          acc match {
            case (ps, pe) :: tail if pe + 1 == st => (ps, en) :: tail
            case _ => (st, en) :: acc
          }
        }.reverse
      val kept = ls.indices.filterNot(masked).map(ls).mkString("\n")
      val total = ls.map(cp).sum + ls.length - 1
      val mchars = spans.map(p => p._2 - p._1).sum
      MaskRow(d.doc_id, ls.length.toLong, masked.count(identity).toLong,
        spans.length.toLong, mchars, total, mchars * 1000000L / total,
        pii.count(identity).toLong, secF.count(identity).toLong,
        spc.count(identity).toLong, boi.count(identity).toLong,
        graft.functions.Fingerprint.hashString(
          spans.map(p => s"${p._1}-${p._2}").mkString(",")),
        graft.functions.Fingerprint.hashString(kept))
    }
  }

  final case class KllLevel(items: Seq[(Long, Long)])
  final case class KllShardState(levels: Seq[KllLevel], nItems: Long,
      bound: Long)
  final case class KllUpdate(shard: Long, decile: Long, target_rank: Long,
      est_cents: Long, est_id: Long, n_items: Long, bound: Long)

  /** X298 — streaming KLL-class quantile gate, q312's stream-side sibling
    * (X283's compactors are mergeable state BY CONSTRUCTION, so they
    * live naturally in flatMapGroupsWithState): per shard
    * (event_id mod shards), a deterministic MRL compactor stack over the
    * event cents — inserts land in level 0; a level that reaches `cap`
    * sorts by (cents, id), promotes its even-indexed half to the next
    * level (weights double: Σ2^L·|buf_L| stays EXACTLY the item count),
    * and adds 2^L to the running deterministic rank-error bound (one
    * compaction at level L moves any threshold's weight-count by at most
    * one level-L item). Every micro-batch each touched shard re-merges
    * its ≤ cap·levels summary and emits its nine decile estimates with
    * the q312 estimator (first item whose cumulative weight reaches
    * d·n/10 + 1) plus the live bound — the bound-still-holds certificate
    * the spec checks against exact prefix ranks per batch.
    *
    * NOT pinned row-identical to q312: the batch sketch picks
    * every-2^L-th of the globally SORTED shard, the stream compacts in
    * arrival order — same estimator family, same Σ-weights-exact and
    * worst-case-bound guarantees, different (both valid) summaries; the
    * spec instead pins a driver replay of the identical fold over the
    * same arrival prefix, the discipline latenessAudit uses. Within a
    * batch, per-shard arrivals fold in (event-time, id) order so the
    * replay is deterministic under the spec's batch divisions.
    *
    * Scale: state per shard is ≤ cap·log₂(n/cap) items — thousands of
    * longs for a billion-event shard; shards partition across executors
    * (ewmaFeed's argument), and summaries of separate shards merge by
    * weighted union with summed bounds (q312's spec-pinned property). */
  def kllGate(events: Dataset[Event], shards: Int = 8, cap: Int = 32,
      watermarkDelay: String = "2 hours"): Dataset[KllUpdate] = {
    import events.sparkSession.implicits._
    scopedFold(events.withWatermark("ts", watermarkDelay))(
      e => java.lang.Math.floorMod(e.event_id, shards.toLong))(
      KllShardState(Seq(KllLevel(Seq.empty)), 0L, 0L)) { (shard, st0, rows) =>
      var levels = st0.levels.map(_.items.toVector).toVector
      var bound = st0.bound
      var n = st0.nItems
      rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        levels = levels.updated(0, levels(0) :+ ((cents(e.value), e.event_id)))
        n += 1
        var l = 0
        while (levels(l).size >= cap) {
          val promoted = levels(l).sortBy(identity)
            .zipWithIndex.collect { case (x, i) if i % 2 == 0 => x }
          if (levels.size == l + 1) levels = levels :+ Vector.empty
          levels = levels.updated(l, Vector.empty)
            .updated(l + 1, levels(l + 1) ++ promoted)
          bound += 1L << l
          l += 1
        }
      }
      (KllShardState(levels.map(v => KllLevel(v)), n, bound),
        if (n == 0L) Iterator.empty
        else {
          var cw = 0L
          val cum = levels.zipWithIndex
            .flatMap { case (buf, l) =>
              buf.map { case (c, id) => (c, id, 1L << l) } }
            .sortBy(x => (x._1, x._2))
            .map { case (c, id, w) => cw += w; (c, id, cw) }
          (1 to 9).iterator.map { d =>
            val t = math.min(d.toLong * n / 10L + 1L, n)
            val (c, id, _) = cum(cum.indexWhere(_._3 >= t))
            KllUpdate(shard, d.toLong, t, c, id, n, bound)
          }
        })
    }
  }

  /** Streaming domain-blocklist gate — the continuous form of the q159
    * policy filter (X126). The blocklist is policy-sized and STATIC for
    * the life of the query: collected once at query definition and
    * compiled into a literal membership array, so the per-document check
    * is a narrow `arrays_overlap` over the extracted URL authorities —
    * no state, no stream-static shuffle, scan throughput at ingest.
    * (Blocklist updates = restart with the new snapshot, the standard
    * policy-rollout discipline; a stream-static join feeding a per-doc
    * re-aggregation would instead hold every document to the watermark
    * for no semantic gain.) Input schema as [[docQualityGate]]; every
    * document is EMITTED with its domains and the verdict — routing
    * (quarantine vs pass) belongs to the sink, auditability to the flag. */
  def blocklistGate(docs: DataFrame, blocklist: DataFrame): DataFrame = {
    val blocked: Array[String] = blocklist
      .select(col("domain").cast("string")).collect().map(_.getString(0))
    docs
      .withColumn("domains", expr(
        "regexp_extract_all(coalesce(text, ''), 'https?://([A-Za-z0-9.-]+)', 1)"))
      .withColumn("blocked", coalesce(
        arrays_overlap(col("domains"), typedlit(blocked)), lit(false)))
      .select(col("doc_id"), col("ts"), col("lang"), col("domains"),
        col("blocked"))
  }

  final case class Order(o_orderkey: Long, o_orderdate: Timestamp,
    o_totalprice: Double)
  final case class BootState(wCount: Long, wSumCents: Long)
  final case class BootUpdate(rep: Long, w_count: Long, w_sum_cents: Long)

  /** X325 — streaming multiplier-bootstrap gate, X319's stream twin and
    * the purest mergeable-state demo in the module: every arriving
    * order contributes its Binomial(4, 1/4) fingerprint weight to all
    * [[graft.ops.PipelineOps.BootReps]] replicates, and the per-replicate
    * state is just (Σw, Σwx) — two longs per replicate, 32 keys total,
    * no pending buffers, no closure semantics, associative under any
    * batch split (the sketch-lane algebra live in a stream). Each batch
    * emits the updated running pair per touched replicate; the FINAL
    * emission per replicate is row-identical to q344's oracle-gated
    * replicate rows, which the StreamingSpec pins along with
    * prefix-consistency after every intermediate batch.
    *
    * The weight arithmetic is byte-identical to q344's SQL
    * (Fingerprint.hashString ≡ graft_fingerprint on the same key
    * string; cents via HALF_UP like the batch side's round). */
  def bootstrapGate(orders: Dataset[Order]): Dataset[BootUpdate] = {
    import orders.sparkSession.implicits._
    val reps = graft.ops.PipelineOps.BootReps
    val weighted = orders.flatMap { o =>
      val x = cents(o.o_totalprice)
      val k = o.o_orderkey
      (0 until reps).iterator.map { rep =>
        val h = graft.functions.Fingerprint.hashString(
          s"boot:$k:$rep:${(k % 1000003L) * (k % 1000003L)}")
        val w = (if (h % 4L == 0L) 1L else 0L) +
          (if (h / 4L % 4L == 0L) 1L else 0L) +
          (if (h / 16L % 4L == 0L) 1L else 0L) +
          (if (h / 64L % 4L == 0L) 1L else 0L)
        (rep.toLong, w, w * x)
      }
    }
    scopedFold(weighted)(_._1)(BootState(0L, 0L)) { (rep, st0, rows) =>
      val st = rows.foldLeft(st0)((st, r) =>
        BootState(st.wCount + r._2, st.wSumCents + r._3))
      (st, Iterator.single(BootUpdate(rep, st.wCount, st.wSumCents)))
    }
  }
}
