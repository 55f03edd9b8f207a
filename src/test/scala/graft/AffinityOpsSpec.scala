package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.{AffinityOps, CorpusOps, EventOps, TextOps, PipelineOps}
import graft.operators.TransferOps

/** Invariant checks for the q110-q117 batch (SURVEY.md §2.7 X74-X81)
  * beyond the driver's DuckDB hash gate: the co-purchase expansion must
  * equal a driver-side brute force, SCD2 ranges must tile each customer's
  * history, growth/histogram/transition outputs must reconcile to corpus
  * totals, and the Pareto cut must respect its threshold algebra.
  */
class AffinityOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession("affinity-ops-spec", 4)

  override def afterAll(): Unit = spark.stop()

  // ------------------------------------------------------------- X74

  test("co-purchase pairs equal the driver-side brute force") {
    import spark.implicits._
    val got = AffinityOps.q110Copurchase(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val po = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val byOrder = po.groupBy(_._1).values
    val brute = byOrder.flatMap { lines =>
      val ps = lines.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2).toMap
    assert(got == brute)
  }

  // ------------------------------------------------------------- X76

  test("SCD2 versions tile each customer's history with one current row") {
    import spark.implicits._
    val rows = TransferOps.q111Scd2(spark, sf)
      .select($"o_custkey", $"version", $"valid_from".cast("string"),
        $"valid_to".cast("string"), $"is_current")
      .as[(Long, Long, String, String, Long)].collect()
    val orders = graft.sources.Tables.load(spark, sf, "orders").count()
    assert(rows.length == orders) // every order becomes exactly one version
    rows.groupBy(_._1).foreach { case (cust, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to vs.length).toSeq,
        s"customer $cust versions not contiguous")
      // ranges chain: valid_to(v) == valid_from(v+1); only the last is open
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3 && a._5 == 0L)
        case _ =>
      }
      assert(sorted.last._4 == null && sorted.last._5 == 1L)
    }
  }

  // ------------------------------------------------------------- X77

  test("first-seen curve: monotone cumulative, reconciles to distinct users") {
    import spark.implicits._
    val rows = EventOps.q112FirstSeen(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    assert(rows.map(_._2).sum == rows.last._3) // new-user counts sum to cum
    val users = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id").distinct().count()
    assert(rows.last._3 == users)
  }

  // ------------------------------------------------------------- X79

  test("OOV rate: vocab hit iff token in the top-V set; ppm bounded") {
    import spark.implicits._
    val got = CorpusOps.q113OovRate(spark, sf).collect()
    got.foreach { r =>
      val (tok, oov, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(oov >= 0 && oov <= tok)
      assert(ppm == oov * 1000000L / tok)
    }
    // driver recount for one doc: build the same vocab, rescore doc 0
    val words = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val vocab = words.groupBy($"w").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), $"w").limit(16).select($"w").as[String].collect().toSet
    val doc0 = words.filter($"doc_id" === 0).select($"w").as[String].collect()
    val expectOov = doc0.count(w => !vocab.contains(w)).toLong
    val got0 = got.find(_.getLong(0) == 0L).get
    assert(got0.getLong(2) == expectOov)
  }

  // ------------------------------------------------------------- X80

  test("length histogram: buckets partition the corpus, extrema in-bucket") {
    val rows = TextOps.q114LengthHistogram(spark, sf).collect()
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getLong(2)).sum == nDocs)
    rows.foreach { r =>
      val (b, mn, mx) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(mn >= b * 100 && mn <= mx)
      if (b < 19) assert(mx < (b + 1) * 100)
    }
  }

  // ------------------------------------------------------------- X78

  test("transition matrix: rows count n-1 per user, ppm rows sum to ~1e6") {
    import spark.implicits._
    val rows = EventOps.q115Transitions(spark, sf).collect()
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val expectTransitions = ev.count() -
      ev.select($"user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == expectTransitions)
    rows.groupBy(_.getString(0)).foreach { case (prev, rs) =>
      val s = rs.map(_.getLong(3)).sum
      // floor-rounded ppm shares: within one ulp-per-row of exactly 1e6
      assert(s > 1000000L - rs.length && s <= 1000000L, s"prev=$prev sum=$s")
    }
  }

  // ------------------------------------------------------------- X81

  test("ABC classes: partition parts, respect the 80/95 cut algebra") {
    import spark.implicits._
    val rows = PipelineOps.q116AbcClasses(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).distinct.toSeq)
    val rev = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_partkey", round($"l_extendedprice" * 100).cast("long").as("c"))
      .groupBy($"l_partkey").agg(sum($"c").as("c"))
      .as[(Long, Long)].collect()
    assert(rows.map(_.getLong(1)).sum == rev.length)  // every part classified
    assert(rows.map(_.getLong(2)).sum == rev.map(_._2).sum) // revenue total
    // recompute the cut driver-side and compare per-class part counts
    val total = rev.map(_._2).sum
    val sorted = rev.sortBy { case (pk, c) => (-c, pk) }
    var cum = 0L
    val classes = sorted.map { case (_, c) =>
      cum += c
      if (cum * 100 <= total * 80) "A" else if (cum * 100 <= total * 95) "B" else "C"
    }
    val expected = classes.groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach(r => assert(expected(r.getString(0)) == r.getLong(1)))
  }

  // ------------------------------------------------------------- X82

  test("RFM: quartile bands near-equal-sized, segments partition customers") {
    import spark.implicits._
    val rows = PipelineOps.q118RfmSegments(spark, sf).collect()
    val nCust = graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_custkey").distinct().count()
    assert(rows.map(_.getLong(3)).sum == nCust)
    // every quartile digit in 1..4; each R-band holds ~n/4 customers
    // ((rn-1)*4 div n puts every band within 1 of n/4)
    rows.foreach { r =>
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
        .foreach(q => assert(q >= 1 && q <= 4))
    }
    val byR = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).sum)
    byR.values.foreach(n => assert(math.abs(n - nCust / 4) <= 1))
    // total spend reconciles to the orders table
    val spend = graft.sources.Tables.load(spark, sf, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("c"))
      .agg(sum($"c")).head.getLong(0)
    assert(rows.map(_.getLong(4)).sum == spend)
  }

  // ------------------------------------------------------------- X83

  test("P99 anomalies: exactly n div 100 flagged, threshold is a real cut") {
    import spark.implicits._
    val rows = EventOps.q119AnomalyP99(spark, sf).collect()
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select($"event_type", round($"value" * 100).cast("long").as("cents"))
      .as[(String, Long)].collect().groupBy(_._1)
    rows.foreach { r =>
      val t = r.getString(0)
      val cents = ev(t).map(_._2).sorted(Ordering[Long].reverse)
      assert(r.getLong(1) == cents.length)
      assert(r.getLong(2) == cents.length / 100)
      if (cents.length >= 100) {
        // threshold equals the (n/100)-th largest value
        assert(r.getLong(3) == cents(cents.length / 100 - 1))
      } else assert(r.isNullAt(3))
      assert(r.getLong(4) == cents.head)
    }
  }

  // ------------------------------------------------------------- X84

  test("session paths: session count reconciles with q54, paths bounded") {
    val paths = EventOps.q120SessionPaths(spark, sf).collect()
    val nSessions = EventOps.q54Sessionize(spark, sf).count()
    assert(paths.map(_.getLong(1)).sum == nSessions)
    val types = Set("click", "error", "purchase", "signup", "view")
    paths.foreach { r =>
      val segs = r.getString(0).split(">")
      assert(segs.length >= 1 && segs.length <= 3)
      segs.foreach(t => assert(types.contains(t)))
    }
    // ranked output: counts non-increasing
    val counts = paths.map(_.getLong(1)).toSeq
    assert(counts == counts.sorted(Ordering[Long].reverse))
  }

  // ------------------------------------------------------------- X85

  test("RI audit: planted orphans counted exactly, intact edges report zero") {
    import spark.implicits._
    val rows = TransferOps.q121RiAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val or = graft.sources.Tables.load(spark, sf, "orders")
    // every child key exists in the undamaged parent, so orphans == rows
    // whose parent key hits the planted removal rule
    val liOrphans = li.filter($"l_orderkey" % 97 === 0).count()
    val orOrphans = or.filter($"o_custkey" % 89 === 0).count()
    assert(rows("lineitem.l_orderkey -> orders.o_orderkey") ==
      (li.count(), liOrphans))
    assert(rows("orders.o_custkey -> customer.c_custkey") ==
      (or.count(), orOrphans))
    Seq("lineitem.l_partkey -> part.p_partkey",
      "lineitem.l_suppkey -> supplier.s_suppkey",
      "customer.c_nationkey -> nation.n_nationkey",
      "supplier.s_nationkey -> nation.n_nationkey",
      "region <- nation.n_regionkey").foreach(e => assert(rows(e)._2 == 0L))
  }

  // ------------------------------------------------------------- X86

  test("OHLC bars: driver recount for one bar, envelope invariants for all") {
    import spark.implicits._
    val rows = EventOps.q122OhlcBars(spark, sf).collect()
    val nEvents = graft.sources.Tables.load(spark, sf, "events").count()
    assert(rows.map(_.getLong(2)).sum == nEvents)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(h >= l && o >= l && o <= h && c >= l && c <= h)
      if (r.getLong(2) == 1) assert(o == c && o == h && h == l)
    }
    // brute-force the bar with the most events
    val top = rows.maxBy(_.getLong(2))
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .filter($"event_type" === top.getString(0))
      .select(expr("unix_micros(cast(ts as timestamp))").as("us"),
        $"event_id", round($"value" * 100).cast("long").as("cents"))
      .filter(expr(s"us div 3600000000 = ${top.getLong(1)}L"))
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    assert(top.getLong(2) == evs.length)
    assert(top.getLong(3) == evs.head._3 && top.getLong(6) == evs.last._3)
    assert(top.getLong(4) == evs.map(_._3).max)
    assert(top.getLong(5) == evs.map(_._3).min)
    assert(top.getLong(7) == evs.map(_._3).sum)
  }

  // ------------------------------------------------------------- X88

  test("item-rank: distributed loop equals a driver-side replay") {
    import spark.implicits._
    val got = AffinityOps.q123ItemRank(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    got.foreach { case (_, s) => assert(s >= 150000L) }
    // rebuild the graph locally and run the identical integer recurrence
    val po = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val pairs = po.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2)
    val edges = pairs.toSeq.flatMap { case ((a, b), w) =>
      Seq((a, b, w), (b, a, w)) }
    val wTot = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var score = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val inflow = edges.groupBy(_._2).view.mapValues(_.map { case (s2, _, w) =>
        score(s2) * w / wTot(s2) }.sum)
      score = inflow.map { case (pk, in) => pk -> (150000L + 850L * in / 1000L) }.toMap
    }
    val expect = score.toSeq.sortBy { case (pk, s2) => (-s2, pk) }.take(100)
    assert(got.toSeq == expect)
  }

  // ------------------------------------------------------------- X89

  test("schema-evolution audit matches the planted batch rule") {
    import spark.implicits._
    val rows = graft.operators.SchemaOps.q124SchemaEvolution(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val o = graft.sources.Tables.load(spark, sf, "orders")
    val n = o.count()
    val even = o.filter($"o_orderkey" % 2 === 0).count()
    assert(rows("o_orderkey") == (n, n))
    assert(rows("o_custkey") == (n, n))
    assert(rows("price_cents") == (n, even))      // only batch A carries it
    assert(rows("o_orderpriority") == (n, n - even)) // only batch B
  }

  // ------------------------------------------------------------- X90

  test("l-diversity: groups match k-anon frame, verdict follows the rule") {
    import spark.implicits._
    val ld = PipelineOps.q125LDiversity(spark, sf).collect()
    val ka = PipelineOps.q108KanonAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ld.length == ka.size) // same QI partition
    ld.foreach { r =>
      val key = (r.getLong(0), r.getString(1))
      assert(r.getLong(2) == ka(key)) // same group sizes
      val (n, d) = (r.getLong(2), r.getLong(3))
      assert(d >= 1 && d <= n)
      assert(r.getString(4) == (if (d < 3) "diversify" else "publish"))
    }
  }

  test("dynamic partition pruning fires on a partitioned-fact dim join") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp")
    try {
      graft.sources.Tables.load(spark, sf, "events")
        .write.partitionBy("event_type").parquet(s"$tmp/fact")
      val fact = spark.read.parquet(s"$tmp/fact")
      // the dim predicate must be AGGREGATE-derived: a literal equality on
      // the join key propagates through the equi-join as a STATIC
      // partition filter (strictly better than DPP, but not what this
      // test pins down) — a count threshold can only be evaluated at
      // runtime, forcing the dynamicpruning subquery onto the fact scan
      val dim = graft.sources.Tables.load(spark, sf, "events")
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .filter($"n" > 205L) // selects only the most frequent type(s)
        .select($"event_type")
      val joined = fact.join(dim, Seq("event_type"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no DPP in plan:\n${plan.take(2000)}")
      val expect = graft.sources.Tables.load(spark, sf, "events")
        .filter($"event_type" === "click").count() // the only type > 205
      assert(joined.count() == expect)
    } finally graft.transfer.Transfer.deleteRecursively(tmp)
  }

  test("runtime bloom filter injects on a selective shuffled dim join") {
    import spark.implicits._
    // pin: the runtime-filter optimizer stays ON and engages for the
    // selective-dim shuffle join shape (the 100 TB fact-scan saver: the
    // fact side drops non-joining rows BEFORE its shuffle). Thresholds are
    // sized for clusters, so the application-side floor is lowered to let
    // the sf0.001 fixture cross it — the assertion is about the feature
    // being wired, the thresholds themselves stay production defaults.
    val conf = spark.conf
    assert(conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true",
      "runtime bloom filters disabled — a silent config regression")
    val savedBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val floorKey =
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val savedFloor = conf.get(floorKey)
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      conf.set(floorKey, "0")
      val fact = graft.sources.Tables.load(spark, sf, "lineitem")
        .select($"l_partkey", $"l_quantity")
      val dim = graft.sources.Tables.load(spark, sf, "part")
        .filter($"p_size" === 1).select($"p_partkey")
      val joined = fact.join(dim, $"l_partkey" === $"p_partkey")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("might_contain"),
        s"no runtime bloom filter in plan:\n${plan.take(2000)}")
      // the filter is a pure pre-shuffle prune — results unchanged
      val keys = graft.sources.Tables.load(spark, sf, "part")
        .filter($"p_size" === 1).select($"p_partkey").as[Long].collect().toSet
      val expect = graft.sources.Tables.load(spark, sf, "lineitem")
        .select($"l_partkey").as[Long].collect().count(keys)
      assert(joined.count() == expect)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      conf.set(floorKey, savedFloor)
    }
  }

  // ------------------------------------------------------------- X91

  test("negative pairs: k per anchor, never self, replayable") {
    import spark.implicits._
    val rows = PipelineOps.q126NegativePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(rows.length == n * 3)
    assert(rows.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L)))
    rows.foreach { case (a, _, neg) => assert(a != neg) }
    // replayable: a second run draws the identical pairs (no RNG anywhere)
    val again = PipelineOps.q126NegativePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq)
    // driver replay of the offset arithmetic for anchor 0, k=1
    val p = 1000000007L
    def fp(s2: String): Long =
      s2.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % p)
    val ids = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id").as[Long].collect().sorted
    val f0 = fp(s"${ids.head}:1")
    val off = 1L + (f0 * f0 % p) % (n - 1)
    // the smallest doc_id holds rank 1, so neg_rn = off + 1 → ids(off)
    val expectNeg = ids(off.toInt)
    assert(rows.find(r => r._1 == ids.head && r._2 == 1L).get._3 == expectNeg)
  }

  // ------------------------------------------------------------- X92

  test("time-decay: decayed <= raw, driver replay for one user") {
    import spark.implicits._
    val rows = EventOps.q127TimeDecay(spark, sf).collect()
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id",
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"),
        round($"value" * 100).cast("long").as("cents"))
      .as[(Long, Long, Long)].collect()
    val maxDay = ev.map(_._2).max
    val u = rows.head.getLong(0)
    val mine = ev.filter(_._1 == u)
    assert(rows.head.getLong(1) == mine.length)
    def decay(c: Long, w: Long): Long =
      if (w >= 63) 0L else if (c >= 0) c >> w.toInt else -((-c) >> w.toInt)
    assert(rows.head.getLong(3) ==
      mine.map { case (_, d, c) => decay(c, (maxDay - d) / 7) }.sum)
  }

  test("time-decay guards: >=63-week shift decays to 0, negatives decay toward 0") {
    import spark.implicits._
    // the parquet corpus spans 30 days, so the clamp paths only fire on
    // synthetic ages — exercise the ACTUAL operator expression on them
    val cases = Seq(
      (100L, 0L), (100L, 3L), (100L, 62L), (100L, 63L), (100L, 64L),
      (100L, 200L), (-100L, 0L), (-100L, 3L), (-100L, 62L), (-100L, 64L),
      (Long.MaxValue, 64L), (1L, 62L))
    val got = cases.toDF("cents", "age_weeks")
      .withColumn("decayed", EventOps.decayExpr)
      .select($"cents", $"age_weeks", $"decayed")
      .as[(Long, Long, Long)].collect().toSeq
    got.foreach { case (c, w, d) =>
      assert(math.abs(d) <= math.abs(c), s"|decayed| grew: $c >> $w = $d")
      assert(d * c >= 0, s"sign flipped: $c >> $w = $d")
      if (w >= 63) assert(d == 0L, s"unclamped shift: $c >> $w = $d")
    }
    // monotone in age for fixed positive cents
    val pos = got.filter(_._1 == 100L).sortBy(_._2).map(_._3)
    assert(pos == pos.sorted.reverse, s"non-monotone decay: $pos")
    // symmetric halving, not arithmetic-shift flooring (-100 >> 3 is -13)
    assert(got.find(t => t._1 == -100L && t._2 == 3L).get._3 == -12L)
  }

  // ------------------------------------------------------------- X93

  test("revenue reconcile: verdicts partition orders, no_lines = anti-join") {
    import spark.implicits._
    val rows = TransferOps.q128RevenueReconcile(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val orders = graft.sources.Tables.load(spark, sf, "orders")
    assert(rows.values.sum == orders.count())
    val noLines = orders.join(
      graft.sources.Tables.load(spark, sf, "lineitem")
        .select($"l_orderkey".as("o_orderkey")).distinct(),
      Seq("o_orderkey"), "left_anti").count()
    assert(rows.getOrElse("no_lines", 0L) == noLines)
  }

  // ------------------------------------------------------------- X94

  test("distribution drift: shares sum to ~1e6, bands cover the corpus") {
    val drift = TextOps.q129DistributionDrift(spark, sf).collect()
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(drift.map(r => r.getLong(1) + r.getLong(2)).sum == nDocs)
    // floor-rounded ppm shares: within one band-count of exactly 1e6
    Seq(3, 4).foreach { i =>
      val s = drift.map(_.getLong(i)).sum
      assert(s > 1000000L - drift.length && s <= 1000000L, s"col $i sum=$s")
    }
    drift.foreach(r =>
      assert(r.getLong(5) == math.abs(r.getLong(3) - r.getLong(4))))
  }

  // ------------------------------------------------------------- X75

  test("source overlap: shingle jaccard bounded and driver-exact for one pair") {
    import spark.implicits._
    val rows = AffinityOps.q117SourceOverlap(spark, sf).collect()
    rows.foreach { r =>
      val (ns, v1, v2, j) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(ns >= 1 && ns <= math.min(v1, v2))
      assert(j >= 1 && j <= 1000000L)
      assert(j == ns * 1000000L / (v1 + v2 - ns))
    }
    // driver recount of the first listed pair's trigram sets
    val first = rows.head
    val (s1, s2) = (first.getString(0), first.getString(1))
    def tris(src: String): Set[String] = graft.sources.Tables
      .load(spark, sf, "documents").filter($"source" === src)
      .select($"text").as[String].collect()
      .flatMap(_.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")))
      .toSet
    val (a, b) = (tris(s1), tris(s2))
    assert(first.getLong(2) == (a & b).size.toLong)
    assert(first.getLong(3) == a.size.toLong && first.getLong(4) == b.size.toLong)
  }

  // ------------------------------------------------------------- X96

  test("inter-arrival: bands tile all consecutive gaps, extrema inside band") {
    import spark.implicits._
    val rows = EventOps.q130InterArrival(spark, sf).collect()
    rows.foreach { r =>
      val (band, mn, mx) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(mn >= (1L << band) || (band == 0 && mn >= 0),
        s"min $mn below band $band")
      assert(mx < (1L << (band + 1)), s"max $mx above band $band")
      assert(mn <= mx)
    }
    // every consecutive (user-ordered) gap is counted exactly once
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id").as[Long].collect()
    val users = ev.groupBy(identity).view.mapValues(_.length)
    val expected = users.values.map(n => (n - 1).toLong).sum
    assert(rows.map(_.getLong(2)).sum == expected)
  }

  // ------------------------------------------------------------- X97

  test("MAD outliers: driver-exact median/MAD replay per type") {
    import spark.implicits._
    val got = EventOps.q131MadOutliers(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select($"event_type", round($"value" * 100).cast("long"))
      .as[(String, Long)].collect()
    def lowerMedian(xs: Seq[Long]): Long = {
      val s2 = xs.sorted; s2((s2.length + 1) / 2 - 1)
    }
    ev.groupBy(_._1).foreach { case (t, vs) =>
      val cents = vs.map(_._2).toSeq
      val med = lowerMedian(cents)
      val mad = lowerMedian(cents.map(c => math.abs(c - med)))
      val out = cents.count(c => math.abs(c - med) > 3 * mad).toLong
      assert(got(t) == ((cents.length.toLong, med, mad, out)),
        s"type $t: got ${got(t)}, want (${cents.length}, $med, $mad, $out)")
    }
  }

  // ------------------------------------------------------------- X98

  test("triangles: degree-oriented count equals driver brute force") {
    import spark.implicits._
    val rows = AffinityOps.q132Triangles(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val po = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    // support >= 2: the pair must co-occur in at least two orders
    val edges = po.groupBy(_._1).values.flatMap { ls =>
      val ps = ls.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= 2).keySet // support >= 2 only
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val count = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, bs) <- adj; b <- bs; c <- adj.getOrElse(b, Set.empty) if bs(c)) {
      count(a) += 1; count(b) += 1; count(c) += 1
    }
    val top = count.toSeq.sortBy { case (k, n) => (-n, k) }.take(20)
    assert(rows == top.toMap, s"got $rows want ${top.toMap}")
  }

  // ------------------------------------------------------------- X99

  test("curriculum: contiguous positions, per-stream order, exact vtime") {
    import spark.implicits._
    val rows = PipelineOps.q133CurriculumInterleave(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val n = graft.sources.Tables.load(spark, sf, "documents").count()
    // schedule covers the corpus exactly once, positions 1..n
    assert(rows.length == n)
    assert(rows.map(_._1).sorted.toSeq == (1L to n).toSeq)
    // within every language stream the schedule preserves stream order:
    // rk strictly increases with pos
    rows.groupBy(_._2).foreach { case (_, rs) =>
      val byPos = rs.sortBy(_._1).map(_._4)
      assert(byPos.toSeq == byPos.sorted.toSeq)
      assert(byPos.toSeq == (1L to byPos.length).toSeq) // rk contiguous too
    }
    // vtime is the exact integer virtual time for the reported weight
    val w = PipelineOps.q82LangMixture(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    rows.foreach { case (_, lang, _, rk, vt) =>
      assert(vt == rk * 1000000L / math.max(w(lang), 1L),
        s"$lang rk=$rk: vtime $vt != ${rk * 1000000L / math.max(w(lang), 1L)}")
    }
  }

  // ------------------------------------------------------------- X100

  test("bloom prefilter: bit-identical to the plain semi-join aggregate") {
    import spark.implicits._
    val got = PipelineOps.q134BloomPrefilter(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val keys = graft.sources.Tables.load(spark, sf, "orders")
      .filter($"o_totalprice" >= 450000.0).select($"o_orderkey")
    val want = graft.sources.Tables.load(spark, sf, "lineitem")
      .join(keys, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(round($"l_quantity" * 100).cast("long")).as("q"),
        sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
          .cast("long")).as("r"))
      .orderBy($"l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
    // the narrow prefilter is actually in the plan (a pre-join UDF filter)
    val plan = PipelineOps.q134BloomPrefilter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("UDF"), s"no bloom prefilter stage:\n${plan.take(1500)}")
  }

  // ------------------------------------------------------------- X103

  test("PIT join: every fact gets the version valid at its ship date") {
    import spark.implicits._
    // driver replay: per customer, versions sorted by (valid_from, version);
    // a fact's version is the LAST one starting on/before its date
    val dim = TransferOps.q111Scd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2)))
      .groupBy(_._1).map { case (ck, vs) =>
        ck -> vs.map(v => (v._3.toLocalDate.toEpochDay, v._2))
          .sortBy(v => (v._1, v._2)).toSeq
      }
    val got = TransferOps.q135PitJoin(spark, sf).collect()
    assert(got.nonEmpty)
    var nullSeen = 0
    got.foreach { r =>
      val (ck, d) = (r.getLong(2), r.getDate(3).toLocalDate.toEpochDay)
      val expect = dim.getOrElse(ck, Seq.empty)
        .takeWhile(_._1 <= d).lastOption.map(_._2)
      val gotV = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(gotV == expect, s"cust $ck date $d: got $gotV want $expect")
      if (gotV.isEmpty) nullSeen += 1
    }
    // facts predating the first version DO occur in this corpus — the NULL
    // branch is exercised, not vacuous
    assert(nullSeen > 0)
  }

  // ------------------------------------------------------------- X101

  test("incremental stats merge equals the full recompute") {
    import spark.implicits._
    val got = PipelineOps.q136IncrStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = graft.sources.Tables.load(spark, sf, "documents")
      .groupBy($"lang")
      .agg(count(lit(1)).as("d"),
        sum(size(split($"text", " ")).cast("long")).as("t"),
        sum(length($"text").cast("long")).as("c"))
      .orderBy($"lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
  }

  // ------------------------------------------------------------- X102

  test("salted join: bit-identical to direct join, pinned to shuffle-hash") {
    import spark.implicits._
    val df = PipelineOps.q137SaltedJoin(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = graft.sources.Tables.load(spark, sf, "lineitem")
      .join(graft.sources.Tables.load(spark, sf, "supplier"),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey".cast("long").as("nk"))
      .agg(count(lit(1)).as("n"),
        sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
          .cast("long")).as("r"))
      .orderBy($"nk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
    // the salt only does its job under a SHUFFLED join — a broadcast here
    // means the hint regressed and the operator is a silent no-op
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"salted join not shuffle-hash:\n${plan.take(1500)}")
  }

  // ------------------------------------------------------------- X104

  test("contamination spans: driver-side interval union agrees exactly") {
    import spark.implicits._
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val grams = texts.map { case (id, t) =>
      val ws = t.split(" ", -1)
      id -> (1 to ws.length - 4).map(i =>
        (i.toLong, ws.slice(i - 1, i + 4).mkString(" ")))
    }.filter(_._2.nonEmpty).toMap
    val ev = grams.collect { case (id, gs) if id % 20 == 0 => gs.map(_._2) }
      .flatten.toSet
    val want = grams.collect { case (id, gs) if id % 20 != 0 =>
      val hits = gs.filter(g => ev(g._2)).map(g => (g._1, g._1 + 4))
      id -> hits
    }.filter(_._2.nonEmpty).map { case (id, hits) =>
      // classic sweep: merge intervals sorted by start
      val merged = hits.sortBy(_._1)
        .foldLeft(List.empty[(Long, Long)]) {
          case (acc @ ((s0, e0) :: rest), (s1, e1)) =>
            if (s1 <= e0) (s0, math.max(e0, e1)) :: rest
            else (s1, e1) :: acc
          case (Nil, iv) => iv :: Nil
        }.reverse
      id -> (merged.length.toLong, merged.map(iv => iv._2 - iv._1 + 1).sum)
    }
    val got = graft.ops.CorpusOps.q138ContamSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)), r.getLong(1), r.getLong(4)))
      .toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, exp) =>
      val (spansCov, nTokens, ppm) = got(id)
      assert(spansCov == exp, s"doc $id: got $spansCov want $exp")
      assert(ppm == exp._2 * 1000000L / nTokens)
      assert(ppm <= 1000000L)
    }
  }

  // ------------------------------------------------------------- X105

  test("skip-grams: top-50 equals the driver-side pair count") {
    import spark.implicits._
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"text").as[String].collect()
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val ws = t.split(" ", -1)
      for (i <- 0 until ws.length - 1)
        counts((ws(i), ws(i + 1))) = counts.getOrElse((ws(i), ws(i + 1)), 0L) + 1
      for (i <- 0 until ws.length - 2)
        counts((ws(i), ws(i + 2))) = counts.getOrElse((ws(i), ws(i + 2)), 0L) + 1
    }
    val want = counts.toSeq
      .sortBy { case ((w1, w2), n) => (-n, w1, w2) }.take(50)
      .map { case ((w1, w2), n) => (w1, w2, n) }
    val got = graft.ops.CorpusOps.q139Skipgrams(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  // ------------------------------------------------------------- X106

  test("KS drift: gaps are exact ECDF distances, monotone cumulatives") {
    import spark.implicits._
    val lens = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    val a = lens.filter(_._1 % 2 == 0).map(_._2)
    val b = lens.filter(_._1 % 2 == 1).map(_._2)
    val allLens = lens.map(_._2).distinct.sorted
    val gaps = allLens.map { l =>
      val fa = a.count(_ <= l).toLong * 1000000L / a.length
      val fb = b.count(_ <= l).toLong * 1000000L / b.length
      (l, math.abs(fa - fb))
    }
    val want = gaps.sortBy { case (l, g) => (-g, l) }.take(10)
    val got = graft.ops.TextOps.q140KsDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(5))).toSeq
    assert(got == want.toSeq)
  }

  // ------------------------------------------------------------- X107

  test("attribution: driver replay of last prior click within 7 days") {
    import spark.implicits._
    val events = graft.sources.Tables.load(spark, sf, "events")
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
      .as[(Long, Long, String, Long)].collect()
    val byUser = events.groupBy(_._2)
    val want = scala.collection.mutable.Map.empty[Long, Option[(Long, Long)]]
    byUser.foreach { case (_, evs) =>
      val tl = evs.sortBy(e => (e._4, e._1))
      var lastClick: Option[(Long, Long)] = None // (us, id)
      tl.foreach { case (id, _, typ, us) =>
        if (typ == "purchase")
          want(id) = lastClick.filter(c => us - c._1 <= 7L * 86400L * 1000000L)
            .map(c => (c._2, (us - c._1) / 60000000L))
        if (typ == "click") lastClick = Some((us, id))
      }
    }
    val got = graft.ops.EventOps.q141Attribution(spark, sf).collect()
    assert(got.length == want.size)
    var attributed = 0
    got.foreach { r =>
      val exp = want(r.getLong(0))
      val g = if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3)))
      assert(g == exp, s"purchase ${r.getLong(0)}: got $g want $exp")
      if (g.isDefined) attributed += 1
    }
    // both branches are exercised
    assert(attributed > 0 && attributed < got.length)
  }

  // ------------------------------------------------------------- X240

  test("q271: linear credits reconcile to revenue exactly; replay agrees") {
    import spark.implicits._
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("event_id", "user_id", "event_type",
        "coalesce(value, 0.0D) AS value",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getLong(4)))
    val L = 7L * 86400L * 1000000L * 1024L
    var (cv, cc, cu, tv, tc, pv, pc, pu, total) =
      (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    ev.groupBy(_._2).values.foreach { es =>
      val ks = es.map(e => (e._5 * 1024L + ((e._1 % 1024) + 1024) % 1024, e))
      ks.foreach {
        case (k, e) if e._3 == "purchase" =>
          val frame = ks.filter { case (k2, _) => k2 >= k - L && k2 <= k - 1 }
          val nv = frame.count(_._2._3 == "view").toLong
          val nc = frame.count(_._2._3 == "click").toLong
          val packs = frame.collect {
            case (k2, e2) if e2._3 == "view" || e2._3 == "click" =>
              k2 * 2 + (if (e2._3 == "view") 1L else 0L) }
          val v = math.round(e._4 * 100)
          total += v
          val n = nv + nc
          if (n == 0) { cu += v; pu += 1 }
          else {
            val base = v / n; val rem = v - base * n
            val lview = packs.max % 2
            cv += base * nv + rem * lview
            cc += base * nc + rem * (1 - lview)
            tv += nv; tc += nc
            if (nv > 0) pv += 1
            if (nc > 0) pc += 1
          }
        case _ =>
      }
    }
    val got = graft.ops.EventOps.q271LinearAttribution(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map("click" -> (tc, pc, cc), "view" -> (tv, pv, cv),
      "unattributed" -> (0L, pu, cu)), s"got $got")
    // the integer split leaks nothing: credits reconcile to revenue
    assert(cv + cc + cu == total)
    assert(cv > 0 && cc > 0 && cu > 0) // all three branches exercised
  }

  // ------------------------------------------------------------- X108

  test("prefix-filtered similarity join equals the brute-force relation") {
    import spark.implicits._
    val sets = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).distinct.toSet }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size.toLong
      un = sa.size + sb.size - inter
      jppt = inter * 1000L / un if jppt >= 900L
    } yield (ia, ib, inter, un, jppt)).sortBy(p => (p._1, p._2)).toSeq
    val got = graft.ops.DedupOps.q142PrefixJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == want, s"got ${got.length} pairs want ${want.length}")
    assert(want.nonEmpty) // the threshold actually admits pairs here
  }

  // ------------------------------------------------------------- X109

  test("weighted sample: exact replay, and the sample skews heavy") {
    import spark.implicits._
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def fp(text: String, id: Long): Long =
      (text + id.toString).foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val all = docs.map { case (id, t) =>
      val n = t.split(" ", -1).length.toLong
      (id, n, fp(t, id) / (n + 1))
    }
    val want = all.sortBy(d => (d._3, d._1)).take(100).toSeq
    val got = graft.ops.TextOps.q143WeightedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // inclusion odds ∝ tokens: the sample's mean length exceeds the corpus'
    val corpusMean = all.map(_._2).sum.toDouble / all.length
    val sampleMean = got.map(_._2).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  // ------------------------------------------------------------- X112

  test("intra-doc repetition: exact replay of chunk distinct-counts") {
    import spark.implicits._
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val want = texts.map { case (id, t) =>
      val ws = t.split(" ", -1)
      val cs = (0 to (ws.length - 1) / 10)
        .map(i => ws.slice(i * 10, i * 10 + 10).mkString(" "))
      val (n, u) = (cs.length.toLong, cs.distinct.length.toLong)
      (id, n, u, (n - u) * 1000000L / n)
    }.sortBy(_._1).toSeq
    val got = graft.ops.CorpusOps.q145IntraDocRepetition(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
  }

  // ------------------------------------------------------------- X113

  test("BM25 probe: integer scoring replay matches the top-20") {
    import spark.implicits._
    val terms = Seq("spark", "merge", "hash")
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val wss = texts.map { case (id, t) => (id, t.split(" ", -1)) }
    val n = wss.length.toLong
    val dfs = terms.map(t => wss.count(_._2.contains(t)).toLong)
    val want = wss.map { case (id, ws) =>
      val tfs = terms.map(t => ws.count(_ == t).toLong)
      val score = tfs.zip(dfs).map { case (tf, df) =>
        if (tf > 0) (n * 1000000L / (df + 1)) * (tf * 2000000L / (tf + 1)) / 1000000L
        else 0L
      }.sum
      (id, score, tfs(0), tfs(1), tfs(2))
    }.sortBy(r => (-r._2, r._1)).take(20).toSeq
    val got = graft.ops.CorpusOps.q146Bm25Probe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == want)
    assert(want.head._2 > 0L) // the probe actually hits the corpus
  }

  // ------------------------------------------------------------- X114

  test("join-size audit: Σ cA·cB predicts every edge exactly") {
    val got = graft.operators.SchemaOps.q147JoinSizeAudit(spark, sf).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert(r.getLong(3) == 1L,
        s"${r.getString(0)}: predicted ${r.getLong(1)} != actual ${r.getLong(2)}")
      assert(r.getLong(1) > 0L)
    }
  }

  // ------------------------------------------------------------- X353

  test("q374: AMS bilinear join estimate — full driver replay, variance-bound sanity") {
    import spark.implicits._
    val rows = graft.operators.SchemaOps.q374AmsJoinEstimate(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet ==
      Set("lineitem-orders", "lineitem-part", "orders-customer"))
    // driver replay: per-key frequencies per edge/side, the shared
    // squared-tail sign family (a function of the key value ALONE —
    // composability), Z sums, floor-division mean and median-of-means
    def fp(s0: String): Long = graft.functions.Fingerprint.hashString(s0)
    def sign(rep: Int, k: Long): Long = {
      val f = fp(k.toString)
      val t = (f % 1000003L) * (f % 1000003L)
      if ((fp(s"amsj:$rep:$k:$t") / 64L) % 2L == 0L) 1L else -1L
    }
    def keyCounts(table: String, keyCol: String): Map[Long, Long] =
      graft.sources.Tables.load(spark, sf, table)
        .select(col(keyCol).cast("long")).filter(col(keyCol).isNotNull)
        .as[Long].collect().groupBy(identity).view.mapValues(_.length.toLong)
        .toMap
    val edges = Seq(
      ("lineitem-orders", keyCounts("lineitem", "l_orderkey"),
        keyCounts("orders", "o_orderkey")),
      ("lineitem-part", keyCounts("lineitem", "l_partkey"),
        keyCounts("part", "p_partkey")),
      ("orders-customer", keyCounts("orders", "o_custkey"),
        keyCounts("customer", "c_custkey")))
    edges.foreach { case (e, fa, fb) =>
      val r = rows(e)
      val truth = fa.keysIterator
        .map(k => fa(k) * fb.getOrElse(k, 0L)).sum
      assert(r.getAs[Long]("exact_pred") == truth, e)
      assert(r.getAs[Long]("actual_rows") == truth, e)
      assert(r.getAs[Long]("n_left") == fa.values.sum &&
        r.getAs[Long]("n_right") == fb.values.sum, e)
      val reps = graft.ops.PipelineOps.AmsReps
      val prods = (0 until reps).map { i =>
        val za = fa.map { case (k, c) => sign(i, k) * c }.sum
        val zb = fb.map { case (k, c) => sign(i, k) * c }.sum
        za * zb
      }
      val mean = Math.floorDiv(prods.sum, reps.toLong)
      val gs = (0 until reps / 4)
        .map(g => Math.floorDiv(prods.slice(g * 4, g * 4 + 4).sum, 4L)).sorted
      val mom = Math.floorDiv(gs(reps / 8 - 1) + gs(reps / 8), 2L)
      assert(r.getAs[Long]("ams_mean") == mean, e)
      assert(r.getAs[Long]("ams_mom") == mom, e)
      def err(est: Long): Long =
        ((BigInt(est) - BigInt(truth)).abs * 1000000 / BigInt(truth)).toLong
      assert(r.getAs[Long]("err_mean_ppm") == err(mean), e)
      assert(r.getAs[Long]("err_mom_ppm") == err(mom), e)
      // variance-bound sanity (AMS Thm 2.2): the observed error stays
      // within 4σ of the bilinear bound sqrt((F2a·F2b + T²)/r) — a
      // deterministic fact of this fixture, recorded so a future sign-
      // hash regression (the q332 class) trips loudly here
      val f2a = fa.values.map(c => BigInt(c) * c).sum
      val f2b = fb.values.map(c => BigInt(c) * c).sum
      val sigma = math.sqrt(((f2a * f2b + BigInt(truth) * truth) / reps)
        .toDouble)
      assert(math.abs(mean - truth).toDouble <= 4.0 * sigma,
        s"$e: mean $mean vs truth $truth exceeds 4 sigma ($sigma)")
    }
  }

  // ------------------------------------------------------------- X115

  test("Gini audit: rank-formula replay per source, bounded in [0, 1e6)") {
    import spark.implicits._
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"source", $"doc_id", $"n_chars").as[(String, Long, Long)].collect()
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      val sorted = ds.sortBy(d => (d._3, d._2)).zipWithIndex
      val n = ds.length.toLong
      val total = ds.map(_._3).sum
      val rankMass = sorted.map { case (d, i) => (i + 1L) * d._3 }.sum
      src -> (n, total, rankMass,
        (2 * rankMass - (n + 1) * total) * 1000000L / (n * total))
    }
    val got = graft.ops.TextOps.q148GiniAudit(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
    got.values.foreach { case (_, _, _, g) => assert(g >= 0L && g < 1000000L) }
  }

  // ------------------------------------------------------------- X116

  test("partition diff: detects exactly the damaged days") {
    import spark.implicits._
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select($"event_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
      .as[(Long, String, Long, Long)].collect()
    val damagedDays = evs.filter(e => e._1 % 997 == 0 || e._1 % 1009 == 0)
      .map(_._4).toSet
    val got = graft.operators.TransferOps.q149PartitionDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.keySet == evs.map(_._4).toSet)
    got.foreach { case (day, changed) =>
      assert(changed == (if (damagedDays(day)) 1L else 0L), s"day $day")
    }
    // detection is non-vacuous in both directions
    assert(got.values.exists(_ == 1L) && got.values.exists(_ == 0L))
  }

  // ------------------------------------------------------------- X117

  test("k-anon repair: cascade replay, mass conservation, k respected") {
    import spark.implicits._
    val k = 5L
    val nat = graft.sources.Tables.load(spark, sf, "nation")
      .select($"n_nationkey".cast("long"), $"n_regionkey".cast("long"))
      .as[(Long, Long)].collect().toMap
    val cust = graft.sources.Tables.load(spark, sf, "customer")
      .select($"c_nationkey".cast("long"), $"c_mktsegment")
      .as[(Long, String)].collect()
    val g0 = cust.groupBy(identity).map { case ((n, s), xs) =>
      (n, s, nat(n), xs.length.toLong) }.toSeq
    val p0 = g0.filter(_._4 >= k).map(g => (0L, s"n${g._1}/${g._2}", g._4))
    val g1 = g0.filter(_._4 < k).groupBy(g => (g._3, g._2))
      .map { case ((r, s), xs) => (r, s, xs.map(_._4).sum) }.toSeq
    val p1 = g1.filter(_._3 >= k).map(g => (1L, s"r${g._1}/${g._2}", g._3))
    val g2 = g1.filter(_._3 < k).groupBy(_._2)
      .map { case (s, xs) => (s, xs.map(_._3).sum) }.toSeq
    val p2 = g2.filter(_._2 >= k).map(g => (2L, g._1, g._2))
    val p3 = g2.filter(_._2 < k).map(g => (3L, s"suppressed/${g._1}", g._2))
    val want = (p0 ++ p1 ++ p2 ++ p3).sortBy(r => (r._1, r._2)).toSeq
    val got = PipelineOps.q150KanonRepair(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want)
    // every customer lands in exactly one report row
    assert(got.map(_._3).sum == cust.length.toLong)
    // k respected everywhere except the explicit suppression bucket
    got.filter(_._1 < 3L).foreach(r => assert(r._3 >= k))
  }

  // ------------------------------------------------------------- X118

  test("rebalance plan: factors reproduce target/share, shares sum to ~1e6") {
    import spark.implicits._
    val got = PipelineOps.q151RebalancePlan(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.nonEmpty)
    val shareSum = got.map(_._4).sum
    assert(shareSum > 1000000L - got.length && shareSum <= 1000000L)
    got.foreach { case (_, nDocs, _, share, target, factor, planned) =>
      assert(factor == target * 1000000L / math.max(share, 1L))
      assert(planned == nDocs * factor / 1000000L)
    }
    // weights are q82's — cross-check against the shared operator
    val w = PipelineOps.q82LangMixture(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    got.foreach { case (lang, _, _, _, target, _, _) =>
      assert(target == w(lang))
    }
  }

  // ------------------------------------------------------------- X119

  test("group sample: exactly min(k, group) per language, q61's priorities") {
    import spark.implicits._
    val got = graft.ops.TextOps.q152GroupSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def fp(text: String, id: Long): Long =
      (text + id.toString).foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"lang", $"doc_id", $"text").as[(String, Long, String)].collect()
    val want = docs.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      ds.map(d => (lang, d._2, fp(d._3, d._2)))
        .sortBy(d => (d._3, d._2)).take(10).zipWithIndex
        .map { case ((l, id, pri), i) => (l, i + 1L, id, pri) }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == want)
    got.groupBy(_._1).values.foreach(g => assert(g.length <= 10))
  }

  // ------------------------------------------------------------- X120

  test("net effect: op counts and first/last replay per user") {
    import spark.implicits._
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("us"), $"event_type")
      .as[(Long, Long, Long, String)].collect()
    def op(t: String) = t match {
      case "signup" => "I"; case "error" => "D"; case _ => "U"
    }
    val want = evs.groupBy(_._1).map { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2)).map(e => op(e._4))
      u -> (sorted.count(_ == "I").toLong, sorted.count(_ == "U").toLong,
        sorted.count(_ == "D").toLong, sorted.head, sorted.last,
        if (sorted.last == "D") "absent" else "present")
    }
    val got = graft.ops.EventOps.q153NetEffect(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getString(6))).toMap
    assert(got == want)
  }

  // ------------------------------------------------------------- X121

  test("curation funnel: monotone stages, reconciles with q74's reasons") {
    val got = graft.ops.CorpusOps.q154CurationFunnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).toSeq == Seq("raw", "exact_dedup", "quality", "sampled"))
    // survival is monotone in docs and tokens
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4)
    }
    // q74's per-reason counts reconcile: kept == final stage count,
    // raw == total of all reasons
    val reasons = graft.ops.CorpusOps.q74CorpusClean(spark, sf).collect()
      .map(r => r.getString(1) -> r.getLong(2))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    assert(got.head._3 == reasons.values.sum)
    assert(got.last._3 == reasons.getOrElse("kept", 0L))
  }

  // ------------------------------------------------------------- X110

  test("compaction apply: every physical file matches its plan row") {
    val got = PipelineOps.q144CompactionApply(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getLong(4) == 1L), "a file diverged from its plan")
    val plan = PipelineOps.q89CompactionPlan(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val actual = got
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(actual == plan)
  }

  // ------------------------------------------------------------- X122

  test("luhn audit: detector verdict equals the planted rule on every doc") {
    val rows = PipelineOps.q155LuhnAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // exactly the one planted 16-digit run is a candidate
      assert(r.getAs[Long]("n_candidates") == 1L)
      val expectValid = if (id % 3 == 0) 1L else 0L
      assert(r.getAs[Long]("n_valid") == expectValid,
        s"doc $id: luhn verdict diverged from the plant rule")
      assert(r.getAs[Long]("has_valid_card") == expectValid)
    }
  }

  // ------------------------------------------------------------- X123

  test("url domains: hits reconcile to the plant and shares sum to ~1e6") {
    import spark.implicits._
    val rows = TextOps.q156UrlDomains(spark, sf).collect()
    assert(rows.nonEmpty)
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val nDocs = d.count()
    val nSecond = d.filter($"doc_id" % 5 === 0).count()
    // every doc plants one https URL; every fifth doc a second http URL
    assert(rows.map(_.getAs[Long]("n_hits")).sum == nDocs + nSecond)
    assert(rows.map(_.getAs[Long]("n_docs")).sum >= nDocs)
    val ppm = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(ppm <= 1000000L && ppm > 1000000L - rows.length,
      s"floor-div shares must sum into (1e6 - |domains|, 1e6], got $ppm")
    // ordering contract: n_hits desc, domain asc tiebreak
    rows.sliding(2).foreach { case Array(a, b) =>
      val (ha, hb) = (a.getAs[Long]("n_hits"), b.getAs[Long]("n_hits"))
      assert(hb < ha || (hb == ha &&
        a.getAs[String]("domain") < b.getAs[String]("domain")))
    }
  }

  // ------------------------------------------------------------- X125

  test("vocab coverage curve is monotone and caps at the corpus total") {
    val rows = CorpusOps.q157VocabCoverage(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(10L, 100L, 1000L, 10000L))
    val total = rows.head.getAs[Long]("n_tokens")
    val types = rows.head.getAs[Long]("n_types")
    var prev = 0L
    rows.foreach { r =>
      val c = r.getAs[Long]("covered_tokens")
      assert(c >= prev && c <= total); prev = c
      // once the cut covers the whole vocabulary, coverage is exactly total
      if (r.getAs[Long]("k") >= types) assert(c == total)
      assert(r.getAs[Long]("coverage_ppm") == c * 1000000L / total)
    }
  }

  // ------------------------------------------------------------- X124

  test("encoding audit counts exactly the planted defects per source") {
    import spark.implicits._
    val rows = TextOps.q158EncodingAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    val expected = graft.sources.Tables.load(spark, sf, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum(when($"doc_id" % 13 === 0, 1L).otherwise(0L)).as("ctrl"),
        sum(when($"doc_id" % 11 === 0, 1L).otherwise(0L)).as("moji"),
        sum(when($"doc_id" % 17 === 0, 1L).otherwise(0L)).as("repl"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("ctrl"),
         r.getAs[Long]("moji"), r.getAs[Long]("repl"))).toMap
    rows.foreach { r =>
      val (n, ctrl, moji, repl) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("docs_ctrl") == ctrl)
      assert(r.getAs[Long]("docs_moji") == moji)
      assert(r.getAs[Long]("docs_repl") == repl)
      // occurrence counts equal doc counts: each plant inserts exactly one
      assert(r.getAs[Long]("n_ctrl") == ctrl)
      assert(r.getAs[Long]("n_moji") == moji)
      assert(r.getAs[Long]("n_repl") == repl)
    }
  }

  // ------------------------------------------------------------- X126

  test("blocklist filter blocks exactly the rule-derived documents") {
    import spark.implicits._
    val rows = TextOps.q159BlocklistFilter(spark, sf).collect()
    assert(rows.nonEmpty)
    val expected = graft.sources.Tables.load(spark, sf, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum(when((pmod($"doc_id", lit(40L)) * 2654435761L % 40L) % 10L === 3L, 1L)
          .otherwise(0L)).as("blocked"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("blocked"))).toMap
    rows.foreach { r =>
      val (n, blocked) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("blocked_docs") == blocked)
      assert(r.getAs[Long]("kept_docs") == n - blocked)
    }
  }

  // ------------------------------------------------------------- X127

  test("length pairing: every pair is the closest smaller train key") {
    import spark.implicits._
    val rows = PipelineOps.q160LengthPair(spark, sf).collect()
    assert(rows.nonEmpty)
    // driver replay: per language, the train doc with the largest
    // (n_chars, doc_id) strictly below the eval doc's key
    graft.functions.Fingerprint.register(spark)
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("fp", expr(
        "graft_fingerprint(concat(coalesce(text, ''), CAST(doc_id AS STRING)))"))
      .select($"lang", $"doc_id", $"n_chars", ($"fp" % 10 === 9).as("is_eval"))
      .collect()
    val trainByLang: Map[String, Seq[(Long, Long)]] =
      d.filter(!_.getAs[Boolean]("is_eval")).toSeq
        .groupBy(_.getAs[String]("lang"))
        .map { case (l, rs) => l -> rs.map(r =>
          (r.getAs[Long]("n_chars") * 1000000000000L + r.getAs[Long]("doc_id"),
           r.getAs[Long]("doc_id"))).sortBy(_._1) }
    var paired = 0
    rows.foreach { r =>
      val k = r.getAs[Long]("n_chars") * 1000000000000L + r.getAs[Long]("doc_id")
      val want = trainByLang.getOrElse(r.getAs[String]("lang"), Seq.empty)
        .takeWhile(_._1 < k).lastOption.map(_._2)
      val got = Option(r.get(r.fieldIndex("pair_doc_id")))
        .map(_.asInstanceOf[Long])
      assert(got == want, s"doc ${r.getAs[Long]("doc_id")}: pair diverged")
      if (got.isDefined) paired += 1
    }
    assert(paired > 0)
  }

  // ------------------------------------------------------------- X128

  test("forget audit: deletion is total, residual-free and mass-conserving") {
    val rows = PipelineOps.q161ForgetAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("residual") == 0L, "a requested doc survived")
      assert(r.getAs[Long]("before_docs") ==
        r.getAs[Long]("after_docs") + r.getAs[Long]("deleted_docs"))
    }
    assert(rows.map(_.getAs[Long]("deleted_docs")).sum > 0L)
  }

  // ------------------------------------------------------------- X129

  test("feature hashing: buckets partition all 125 categories and rows") {
    import spark.implicits._
    val rows = PipelineOps.q162FeatureHashing(spark, sf).collect()
    assert(rows.nonEmpty)
    val nCust = graft.sources.Tables.load(spark, sf, "customer").count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == nCust)
    val nCats = rows.map(_.getAs[Long]("n_categories")).sum
    assert(nCats >= 25L && nCats <= 125L) // nations × segments present
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0L && b < 64L)
      assert(r.getAs[Long]("collided") ==
        (if (r.getAs[Long]("n_categories") > 1) 1L else 0L))
    }
  }

  // ------------------------------------------------------------- X130

  test("prefix boilerplate: driver replay of sorted-neighbor bounded LCP") {
    import spark.implicits._
    val rows = graft.ops.DedupOps.q163PrefixBoilerplate(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"lang", $"doc_id", coalesce($"text", lit("")).as("text"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("doc_id"), r.getString(2)))
    def lcp(a: String, b: String): Long = {
      val m = math.min(64, math.min(a.length, b.length))
      var i = 0
      while (i < m && a.charAt(i) == b.charAt(i)) i += 1
      i.toLong
    }
    val expected = docs.groupBy(_._1).map { case (lang, ds) =>
      val sorted = ds.sortBy(d => (d._3, d._2)).toSeq
      val lcps = 0L +: sorted.sliding(2).collect {
        case Seq(p, c) => lcp(c._3, p._3) }.toSeq
      lang -> (sorted.size.toLong, lcps.max, lcps.sum,
        lcps.count(_ >= 20L).toLong)
    }
    rows.foreach { r =>
      val (n, mx, sm, boiler) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("max_lcp") == mx)
      assert(r.getAs[Long]("sum_lcp") == sm)
      assert(r.getAs[Long]("boiler_docs") == boiler)
      assert(r.getAs[Long]("max_lcp") <= 64L)
    }
  }

  // ------------------------------------------------------------- X131

  test("degree histogram: bands tile the degrees and mass reconciles") {
    import spark.implicits._
    val rows = AffinityOps.q164DegreeHistogram(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val band = r.getAs[Long]("band")
      val lo = 1L << band; val hi = (1L << (band + 1)) - 1
      assert(r.getAs[Long]("min_degree") >= lo)
      assert(r.getAs[Long]("max_degree") <= hi)
      assert(r.getAs[Long]("min_degree") >= 1L)
    }
    // Σ degree = 2·|edges| of the support-2 graph (handshake lemma)
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
      .filter($"ok".isNotNull && $"pk".isNotNull).distinct()
    val nEdges = li.as("a").join(li.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk", $"b.pk").count().filter($"count" >= 2).count()
    assert(rows.map(_.getAs[Long]("sum_degree")).sum == 2L * nEdges)
  }

  // ------------------------------------------------------------- X132

  test("burstiness: exact integer Fano replay per event type") {
    import spark.implicits._
    val rows = EventOps.q165Burstiness(spark, sf).collect()
    assert(rows.nonEmpty)
    val hourly = graft.sources.Tables.load(spark, sf, "events")
      .select($"event_type",
        expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("hour"))
      .groupBy($"event_type", $"hour").count()
      .collect().map(r => (r.getString(0), r.getAs[Long]("count")))
      .groupBy(_._1)
    rows.foreach { r =>
      val cs = hourly(r.getAs[String]("event_type")).map(_._2).toSeq
      val n = cs.size.toLong; val sTot = cs.sum; val sq = cs.map(c => c * c).sum
      assert(r.getAs[Long]("n_hours") == n)
      assert(r.getAs[Long]("n_events") == sTot)
      assert(r.getAs[Long]("fano_ppm") ==
        (n * sq - sTot * sTot) * 1000000L / (n * sTot))
      assert(r.getAs[Long]("fano_ppm") >= 0L)
    }
  }

  // ------------------------------------------------------------- X133

  test("dataset card reconciles with the q154 funnel's dedup stage") {
    val rows = CorpusOps.q166DatasetCard(spark, sf).collect()
    assert(rows.nonEmpty)
    val funnel = CorpusOps.q154CurationFunnel(spark, sf).collect()
      .map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_docs")).toMap
    // Σ n_docs = raw stage; Σ (n_docs - dup_docs) = exact-dedup stage
    assert(rows.map(_.getAs[Long]("n_docs")).sum == funnel(0L))
    assert(rows.map(r => r.getAs[Long]("n_docs") - r.getAs[Long]("dup_docs"))
      .sum == funnel(1L))
    rows.foreach { r =>
      val q = r.getAs[Long]("mean_quality_millis")
      assert(q >= 0L && q <= 1000L, "distinct-ratio millis out of range")
      assert(r.getAs[Long]("short_docs") + r.getAs[Long]("long_docs")
        <= r.getAs[Long]("n_docs"))
    }
  }

  // ------------------------------------------------------------- X134

  test("MAD length outliers: driver-exact median/MAD replay per lang") {
    import spark.implicits._
    val rows = TextOps.q167MadLengthOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val lens = graft.sources.Tables.load(spark, sf, "documents")
      .select($"lang", $"n_chars").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_chars"))).groupBy(_._1)
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size - 1) / 2)
    rows.foreach { r =>
      val xs = lens(r.getAs[String]("lang")).map(_._2).toSeq
      val med = lowerMedian(xs)
      val mad = lowerMedian(xs.map(x => math.abs(x - med)))
      assert(r.getAs[Long]("n_docs") == xs.size.toLong)
      assert(r.getAs[Long]("median_chars") == med)
      assert(r.getAs[Long]("mad_chars") == mad)
      assert(r.getAs[Long]("n_outliers") ==
        xs.count(x => math.abs(x - med) > 3 * mad).toLong)
    }
  }

  // ------------------------------------------------------------- X135

  test("weekly churn: horizon week reports zero churn, flows reconcile") {
    import spark.implicits._
    val rows = EventOps.q168WeeklyChurn(spark, sf).collect()
    assert(rows.nonEmpty)
    val maxWeek = rows.map(_.getAs[Long]("week")).max
    rows.foreach { r =>
      assert(r.getAs[Long]("n_churned") <= r.getAs[Long]("n_active"))
      if (r.getAs[Long]("week") == maxWeek)
        assert(r.getAs[Long]("n_churned") == 0L,
          "horizon week must not report phantom churn")
    }
    // driver replay on one mid-range week: churned = active(w) minus
    // those also active in w+1
    val uw = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id",
        expr("unix_micros(cast(ts as timestamp)) div 604800000000").as("week"))
      .distinct().collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("week")))
    val mid = rows.map(_.getAs[Long]("week")).sorted.apply(rows.length / 2)
    if (mid < maxWeek) {
      val act = uw.filter(_._2 == mid).map(_._1).toSet
      val nxt = uw.filter(_._2 == mid + 1).map(_._1).toSet
      val expect = act.count(u => !nxt.contains(u)).toLong
      val got = rows.find(_.getAs[Long]("week") == mid).get
      assert(got.getAs[Long]("n_churned") == expect)
      assert(got.getAs[Long]("n_active") == act.size.toLong)
    }
  }

  // ------------------------------------------------------------- X144

  test("temporal split: cold counts equal the driver replay per type") {
    import spark.implicits._
    val rows = EventOps.q176TemporalSplit(spark, sf).collect()
    assert(rows.nonEmpty)
    val cut = java.sql.Timestamp.valueOf("2024-01-24 00:00:00")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id", $"ts".cast("timestamp").as("ts"), $"event_type")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getString(2)))
    val train = ev.filter(_._2.before(cut)).map(_._1).toSet
    val test = ev.filter(!_._2.before(cut))
    rows.foreach { r =>
      val t = test.filter(_._3 == r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_test_events") == t.length.toLong)
      assert(r.getAs[Long]("cold_events") ==
        t.count(e => !train(e._1)).toLong)
      assert(r.getAs[Long]("n_test_users") == t.map(_._1).distinct.length.toLong)
      assert(r.getAs[Long]("cold_users") ==
        t.map(_._1).distinct.count(u => !train(u)).toLong)
    }
  }

  // ------------------------------------------------------------- X145

  test("ivf recall: bounded, ppm-consistent, covers the query batch") {
    val rows = graft.ops.SimilarityOps.q177IvfRecall(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("q_id")).toSeq == (8L to 17L))
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0L && h <= 3L)
      assert(r.getAs[Long]("recall_ppm") == h * 1000000L / 3L)
    }
    // single-probe IVF on clustered data should find something
    assert(rows.map(_.getAs[Long]("n_hits")).sum > 0L)
  }

  // ------------------------------------------------------------- X310

  test("pq recall: twins recovered at ADC rank 1, recall band holds") {
    val rows = graft.ops.SimilarityOps.q336PqRecall(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("q_id")).toSeq == (8L to 17L))
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      // the twin sits in BOTH top-10s by construction (exact d² = 1,
      // ADC = its own cell's lookup minimum, ties broken to the
      // negative id), so every query scores at least one hit
      assert(h >= 1L && h <= 10L)
      assert(r.getAs[Long]("recall_ppm") == h * 100000L)
      // planted-twin recovery: the quantization cell of a 1-milli
      // perturbation IS the query's cell — ADC must rank it first
      assert(r.getAs[Long]("twin_adc_rank") == 1L)
      assert(r.getAs[Long]("twin_top10") == 1L)
    }
    // stated recall band: mean recall@10 >= 15% for a 4x8 codebook on
    // this corpus (observed 27% at sf0.001, 33% at sf0.01 — PQ with
    // 3-bit codes on near-isotropic 64-dim data is honestly lossy)
    assert(rows.map(_.getAs[Long]("n_hits")).sum >= 15L)
  }

  // ------------------------------------------------------------- X343

  test("ivfadc: probe restricts the ranked set, losses ordered, twin survives") {
    import spark.implicits._
    val rows = graft.ops.SimilarityOps.q365IvfAdc(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("q_id")).toSeq == (8L to 17L))
    // the probed universe really is a strict subset: corpus (>=18 plus
    // the 10 twins) vs nprobe=2 of 8 lists
    val corpusN = graft.sources.Tables.load(spark, sf, "embeddings")
      .filter($"vec_id" >= 18L).count() + 10L
    rows.foreach { r =>
      val probed = r.getAs[Long]("n_probed")
      assert(probed > 0L && probed < corpusN, s"probe did not restrict: $probed")
      val h = r.getAs[Long]("n_hits"); val c = r.getAs[Long]("ceil_hits")
      // the two loss terms are ordered by construction: ADC top-10 is a
      // subset of the probed universe, so recall <= ceiling <= 1
      assert(h >= 0L && h <= c && c <= 10L)
      assert(r.getAs[Long]("recall_ppm") == h * 100000L)
      assert(r.getAs[Long]("ceiling_ppm") == c * 100000L)
      // the 1-milli twin shares the query's nearest coarse list AND its
      // quantization cell: it must survive the probe at ADC rank 1
      assert(r.getAs[Long]("twin_rank") == 1L)
      assert(r.getAs[Long]("twin_top10") == 1L)
    }
    // the coarse probe must not be vacuous on real neighbors either:
    // across the batch it keeps a nonzero slice of the exact top-10
    assert(rows.map(_.getAs[Long]("ceil_hits")).sum > 0L)
  }

  // ------------------------------------------------------------- X350

  test("q371: trained coarse quantizer — seed block pins q365, twins survive both") {
    val rows = graft.ops.SimilarityOps.q371IvfTrained(spark, sf).collect()
    val (seedRows, trainedRows) =
      rows.partition(_.getAs[String]("quant") == "0_seed")
    assert(seedRows.length == 10 && trainedRows.length == 10)
    // the 0_seed block runs the IDENTICAL dataflow to q365 (same seed
    // cents, same codes/LUTs/truth leg) — pinned row-identical, so the
    // two queries can never drift apart on the shared machinery
    val q365 = graft.ops.SimilarityOps.q365IvfAdc(spark, sf).collect()
    assert(seedRows.map(_.toSeq.drop(1)).toSeq == q365.map(_.toSeq).toSeq,
      "q371's seed block diverged from q365")
    // structural invariants hold under BOTH quantizers: loss ordering
    // (ADC top-10 ⊆ probed universe), ppm consistency, and the 1-milli
    // twin surviving the probe at ADC rank 1 — training may move real
    // neighbors' lists out of the probe set (measured: it does, stated
    // in the scaladoc) but it can never separate a twin from its query
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits"); val c = r.getAs[Long]("ceil_hits")
      assert(h >= 0L && h <= c && c <= 10L)
      assert(r.getAs[Long]("recall_ppm") == h * 100000L)
      assert(r.getAs[Long]("ceiling_ppm") == c * 100000L)
      assert(r.getAs[Long]("n_probed") > 0L)
      assert(r.getAs[Long]("twin_rank") == 1L)
      assert(r.getAs[Long]("twin_top10") == 1L)
    }
  }

  // ------------------------------------------------------------- X358

  test("q378: k-core — exact sequential peeling cross-check, plant classes, coreness property") {
    import spark.implicits._
    val rows = graft.ops.AffinityOps.q378KCore(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // independent edge rebuild (the operator's own definition, replayed)
    val po = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
      .filter($"ok".isNotNull && $"pk".isNotNull).distinct()
      .as[(Long, Long)].collect()
    val byOrder = po.groupBy(_._1).values
    val support = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
    byOrder.foreach { g =>
      val ps = g.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        support((ps(i), ps(j))) = support.getOrElse((ps(i), ps(j)), 0) + 1
    }
    val edges = support.filter(_._2 >= 2).keys.toSeq ++
      graft.ops.AffinityOps.KCorePlant
    // EXACT sequential min-degree peeling (the textbook algorithm — a
    // DIFFERENT algorithm from the operator's h-index iteration, so
    // equality is a cross-algorithm proof, not a replay)
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val core = scala.collection.mutable.HashMap.empty[Long, Long]
    val deg = scala.collection.mutable.HashMap(
      adj.iterator.map { case (v, ns) => v -> ns.size }.toSeq: _*)
    val alive = scala.collection.mutable.Set(adj.keys.toSeq: _*)
    var k = 0L
    while (alive.nonEmpty) {
      val v = alive.minBy(x => (deg(x), x))
      k = math.max(k, deg(v).toLong)
      core(v) = k
      alive -= v
      adj(v).foreach { u => if (alive(u)) deg(u) = deg(u) - 1 }
    }
    // histogram + plant rows equal the peeling result exactly
    val wantHist = core.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    wantHist.foreach { case (c, n) =>
      assert(rows(s"core:$c").getAs[Long]("n_nodes") == n, s"core $c")
    }
    assert(rows.count(_._1.startsWith("core:")) == wantHist.size)
    core.filter(_._1 <= -37800L).foreach { case (v, c) =>
      assert(rows(s"part:$v").getAs[Long]("core") == c, s"part $v")
    }
    // plant classes by hand: 5-clique coreness 4, pendant chain 1, cycle 2
    Seq(-37811L, -37812L, -37813L, -37814L, -37815L)
      .foreach(v => assert(rows(s"part:$v").getAs[Long]("core") == 4L))
    Seq(-37816L, -37817L)
      .foreach(v => assert(rows(s"part:$v").getAs[Long]("core") == 1L))
    Seq(-37821L, -37822L, -37823L, -37824L)
      .foreach(v => assert(rows(s"part:$v").getAs[Long]("core") == 2L))
    // the defining coreness property on the peeled assignment: every
    // node has >= core(v) neighbors of coreness >= core(v)
    adj.foreach { case (v, ns) =>
      assert(ns.count(u => core(u) >= core(v)) >= core(v), s"node $v")
    }
    // rounds row: converged in >= 1 rounds over all nodes
    assert(rows("rounds").getAs[Long]("core") >= 1L)
    assert(rows("rounds").getAs[Long]("n_nodes") == adj.size.toLong)
  }

  // ------------------------------------------------------------- X357

  test("q377: nprobe sweep — nested probes monotone, twin at rank 1 everywhere, pins q371") {
    val rows = graft.ops.SimilarityOps.q377IvfNprobe(spark, sf).collect()
    val sweep = graft.ops.SimilarityOps.IvfNprobeSweep.map(_.toLong)
    assert(rows.length == sweep.length * 10)
    val byNp = rows.groupBy(_.getAs[Long]("nprobe"))
      .view.mapValues(_.map(r => r.getAs[Long]("q_id") -> r).toMap).toMap
    // probe lists NEST (take(np) of one sorted centroid order), so the
    // probed-row cost and the coarse ceiling are monotone per query; the
    // twin's cell is probe #1, so rank 1 even at nprobe = 1
    sweep.sliding(2).foreach { case Seq(a, b) =>
      (8L to 17L).foreach { q =>
        assert(byNp(a)(q).getAs[Long]("n_probed") <=
          byNp(b)(q).getAs[Long]("n_probed"), s"np $a->$b q $q")
        assert(byNp(a)(q).getAs[Long]("ceil_hits") <=
          byNp(b)(q).getAs[Long]("ceil_hits"), s"np $a->$b q $q")
      }
    }
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits"); val c = r.getAs[Long]("ceil_hits")
      assert(h >= 0L && h <= c && c <= 10L)
      assert(r.getAs[Long]("recall_ppm") == h * 100000L)
      assert(r.getAs[Long]("ceiling_ppm") == c * 100000L)
      assert(r.getAs[Long]("twin_rank") == 1L)
      assert(r.getAs[Long]("twin_top10") == 1L)
    }
    // nprobe = 2 IS q371's trained block — pinned row-identical, so the
    // sweep and the quantizer ablation can never drift on the shared
    // machinery
    val q371t = graft.ops.SimilarityOps.q371IvfTrained(spark, sf).collect()
      .filter(_.getAs[String]("quant") == "1_trained")
      .map(_.toSeq.drop(1)).toSeq
    val np2 = rows.filter(_.getAs[Long]("nprobe") == 2L)
      .sortBy(_.getAs[Long]("q_id")).map(_.toSeq.drop(1)).toSeq
    assert(np2 == q371t, "q377's nprobe=2 diverged from q371's trained block")
  }

  // ------------------------------------------------------------- X315

  test("triplet mining: confusers violate the margin, semi-hard clears it") {
    val rows = graft.ops.SimilarityOps.q340TripletMining(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[Long]("anchor_id")
      assert(r.getAs[Long]("pos_id") == -2000L - a)
      assert(r.getAs[Long]("d2_pos") == 1L)
      // semi-hard is by definition farther than the positive, and never
      // below the hard negative
      assert(r.getAs[Long]("d2_semi") > 1L)
      assert(r.getAs[Long]("d2_hard") <= r.getAs[Long]("d2_semi"))
      if (a % 20L == 3L) {
        // planted exact-duplicate confuser: the hard negative is a
        // duplicate at distance 0 — the mine-after-dedup lesson
        assert(r.getAs[Long]("hard_neg_id") == -3000L - a)
        assert(r.getAs[Long]("d2_hard") == 0L)
        assert(r.getAs[Long]("margin_ok") == 0L)
      } else {
        assert(r.getAs[Long]("margin_ok") == 1L)
        assert(r.getAs[Long]("hard_neg_id") == r.getAs[Long]("semi_neg_id"))
      }
    }
    assert(rows.exists(_.getAs[Long]("margin_ok") == 0L))
    assert(rows.exists(_.getAs[Long]("margin_ok") == 1L))
  }

  // ------------------------------------------------------------- X316

  test("nn-descent: recall and Σd² converge monotonically, edges fill to k") {
    import spark.implicits._
    val rows = graft.ops.SimilarityOps.q341NnDescent(spark, sf).collect()
    val k = graft.ops.SimilarityOps.NndK
    assert(rows.map(_.getAs[Long]("rnd")).toSeq ==
      (0L to graft.ops.SimilarityOps.NndRounds.toLong))
    val n = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr(s"${graft.functions.Exact.milliArrayExpr("embedding")} AS q")
      .filter(expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) > 0"))
      .count()
    // the local-join merge never drops a node below its current degree,
    // so edge counts are non-decreasing and bounded by n*k (round 0 can
    // sit below n*k only through rank-offset collisions)
    val edges = rows.map(_.getAs[Long]("n_edges")).toSeq
    assert(edges.zip(edges.tail).forall { case (a, b) => a <= b })
    assert(edges.forall(e => e > n * (k - 1L) && e <= n * k))
    // membership of a TRUE top-k neighbor is stable under the (d2, dst)
    // total order (at most k-1 universe elements precede it), so graph
    // recall is monotone non-decreasing BY CONSTRUCTION — the
    // convergence certificate
    val rec = rows.map(_.getAs[Long]("recall_ppm")).toSeq
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b })
    // Σd² over a constant edge set can only improve; allow equality when
    // a round adds fill-in edges
    val sums = rows.map(_.getAs[Long]("sum_d2")).toSeq
    edges.indices.drop(1).foreach { i =>
      if (edges(i) == edges(i - 1)) assert(sums(i) <= sums(i - 1))
    }
    // observed 712500 ppm at k=8 after 4 rounds on this corpus (random
    // init lands at ~1%); the band states honest graph-ANN behavior on
    // near-isotropic 64-dim data, not a tuned best case
    assert(rec.head < 200000L)
    assert(rec.last >= 400000L)
  }

  // ------------------------------------------------------------- X346

  test("incremental nnd: absorption is monotone and lands in the rebuild band") {
    import spark.implicits._
    val ops = graft.ops.SimilarityOps
    val rows = ops.q368IncrementalNnd(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet ==
      Set("1_base", "2_seeded", "3_local1", "4_local2", "9_rebuild"))
    val n = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr(s"${graft.functions.Exact.milliArrayExpr("embedding")} AS q")
      .filter(expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) > 0"))
      .count()
    // seeding restores full k-degree: every node (old + new) carries k
    // edges after the merge, identical to the rebuild's edge count
    val k = ops.NndK.toLong
    assert(rows("2_seeded").getAs[Long]("n_edges") == n * k)
    assert(rows("9_rebuild").getAs[Long]("n_edges") == n * k)
    assert(rows("1_base").getAs[Long]("n_edges") < n * k)
    // recall is monotone across merge stages BY CONSTRUCTION (a true
    // top-k edge has minimal d2 and can never be evicted once found)
    def rec(col: String): Seq[Long] =
      Seq("1_base", "2_seeded", "3_local1", "4_local2").map(rows(_).getAs[Long](col))
    Seq("recall_audit_ppm", "recall_new_ppm").foreach { c =>
      val r = rec(c)
      assert(r.zip(r.tail).forall { case (a, b) => a <= b }, s"$c not monotone")
    }
    // base new-node recall is 0 by construction (arrivals absent)
    assert(rows("1_base").getAs[Long]("recall_new_ppm") == 0L)
    // rebuild-parity bands (stated, measured honest behavior — NOT a
    // tuned best case): after two batch-local rounds the OLD nodes sit
    // within 10 points of the full rebuild (12500 ppm observed at
    // sf0.01) and arrivals within 30 points (162500 observed) — the
    // price of one-entry beam seeding on near-isotropic data
    val aGap = rows("9_rebuild").getAs[Long]("recall_audit_ppm") -
      rows("4_local2").getAs[Long]("recall_audit_ppm")
    val nGap = rows("9_rebuild").getAs[Long]("recall_new_ppm") -
      rows("4_local2").getAs[Long]("recall_new_ppm")
    assert(aGap <= 100000L, s"old-node parity gap $aGap")
    assert(nGap <= 300000L, s"new-node parity gap $nGap")
    // arrivals must get genuinely useful adjacency from seeding alone
    assert(rows("2_seeded").getAs[Long]("recall_new_ppm") >= 300000L)
  }

  // ------------------------------------------------------------- X322

  test("graph search: beam stays sublinear, hits are exact, misses are near") {
    import spark.implicits._
    val rows = graft.ops.SimilarityOps.q347GraphSearch(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("q_id")).toSeq == (8L to 17L))
    val n = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr(s"${graft.functions.Exact.milliArrayExpr("embedding")} AS q")
      .filter(expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) > 0"))
      .count()
    rows.foreach { r =>
      // the search never sees most of the corpus — that's its point
      assert(r.getAs[Long]("n_visited") * 2L < n)
      // the beam's best can never beat the exact nearest neighbor
      assert(r.getAs[Long]("best_d2") >= r.getAs[Long]("exact_d2"))
      assert(r.getAs[Long]("excess_ppm") ==
        (r.getAs[Long]("best_d2") - r.getAs[Long]("exact_d2")) * 1000000L /
          r.getAs[Long]("exact_d2"))
      if (r.getAs[Long]("found") == 1L) {
        assert(r.getAs[Long]("best_id") == r.getAs[Long]("exact_id"))
        assert(r.getAs[Long]("excess_ppm") == 0L)
      }
    }
    // honest band on near-isotropic data over a 71%-recall graph: some
    // exact hits, and every miss within ~15% of the exact distance
    assert(rows.map(_.getAs[Long]("found")).sum >= 2L)
    assert(rows.map(_.getAs[Long]("excess_ppm")).max <= 300000L)
  }

  // ------------------------------------------------------------- X323

  test("abtt: power iteration finds the planted spike dimension") {
    val rows = graft.ops.SimilarityOps.q348AbttDirection(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    // the 50-vector ±15σ spike rides in dimension 8 — the dominant
    // centered direction must point there
    assert(r.getAs[Long]("top_dim") == 8L)
    val share = r.getAs[Long]("share_top_ppm")
    // far above the isotropic 1/64 = 15625 ppm, but a genuine share
    assert(share > 156250L && share < 1000000L, s"share $share")
    assert(r.getAs[Long]("iso_x_ppm") == share * 64L)
    assert(r.getAs[Long]("n") > 50L) // corpus + the 50 plants
  }

  // ------------------------------------------------------------- X317

  test("jl projection: sign matrix avalanches, distortion band centers on 1e6") {
    val m = graft.ops.SimilarityOps.JlDims
    // the two measured failure modes were STRUCTURAL: rows identical or
    // exactly opposite (multiplicative-hash parity / fp parity are
    // near-linear bits over a sequential index). Pin decorrelation and
    // balance on the matrix itself.
    val rows64 = (0 until m).map(i => (0 until 64).map(j =>
      graft.ops.SimilarityOps.jlSign(i, j)))
    rows64.foreach(r => assert(math.abs(r.sum) <= 16L))
    for (a <- 0 until m; b <- a + 1 until m) {
      val dot = (0 until 64).map(j => rows64(a)(j) * rows64(b)(j)).sum
      assert(math.abs(dot) <= 32L, s"rows $a,$b correlate: $dot")
    }
    val rows = graft.ops.SimilarityOps.q342JlProjection(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("q_id")).toSeq == (8L to 17L))
    val nPairs = rows.map(_.getAs[Long]("n_pairs")).distinct
    assert(nPairs.length == 1) // every query audits the same universe
    rows.foreach { r =>
      assert(r.getAs[Long]("min_ratio_ppm") <= r.getAs[Long]("med_ratio_ppm"))
      assert(r.getAs[Long]("med_ratio_ppm") <= r.getAs[Long]("max_ratio_ppm"))
      // E[d2_proj] = m * d2_exact for ±1 signs: the median distortion
      // sits near 1e6 (observed 0.90-1.18e6; the degenerate matrices
      // measured 0.25e6 / 7e6 tails before the fix)
      val med = r.getAs[Long]("med_ratio_ppm")
      assert(med >= 600000L && med <= 1500000L, s"median off: $med")
      assert(r.getAs[Long]("recall10_ppm") <= 1000000L)
    }
    // top-10 recall through a 4x compression is honestly lossy on
    // near-isotropic data, but not zero across the whole batch
    assert(rows.map(_.getAs[Long]("recall10_ppm")).sum >= 300000L)
  }

  // ------------------------------------------------------------- X320

  test("iclm ordering: cluster-sort beats the shuffle, boundaries count exactly") {
    val rows = graft.ops.SimilarityOps.q345IclmOrdering(spark, sf).collect()
      .map(r => r.getAs[String]("ordering") -> r).toMap
    val cl = rows("clustered"); val sh = rows("shuffled")
    assert(cl.getAs[Long]("n_pairs") == sh.getAs[Long]("n_pairs"))
    // the ordering's purpose: semantic neighbors adjacent — strictly
    // less adjacent-pair distance than the shuffled stream
    assert(cl.getAs[Long]("sum_adj_d2") < sh.getAs[Long]("sum_adj_d2"))
    assert(cl.getAs[Long]("n_same_cluster") > sh.getAs[Long]("n_same_cluster"))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("mean_adj_d2") ==
        r.getAs[Long]("sum_adj_d2") / r.getAs[Long]("n_pairs"))
    }
    // in the clustered order every cluster is contiguous, so the only
    // cross-cluster adjacencies are the k_present - 1 boundaries
    val kPresent = graft.ops.SimilarityOps.q106Kmeans(spark, sf).collect().length
    assert(cl.getAs[Long]("n_same_cluster") ==
      cl.getAs[Long]("n_pairs") + 1L - kPresent)
  }

  // ------------------------------------------------------------- X328

  test("q352: null quiet, trend loud, spike cannot flip the verdict") {
    val rows = graft.ops.EventOps.q352MannKendall(spark, sf).collect()
      .map(r => r.getAs[String]("series") -> r).toMap
    assert(rows.keySet == Set("1_null", "2_trend", "3_trend_spiked"))
    // calibration: the raw daily series has no planted trend
    assert(rows("1_null").getAs[Long]("significant") == 0L)
    // power: the +4/day injection reads significant
    assert(rows("2_trend").getAs[Long]("significant") == 1L)
    assert(rows("2_trend").getAs[Long]("s_stat") > 0L)
    // robustness (the point of pairing MK with Theil-Sen): the 10x
    // day-10 spike flips at most the n-1 pair signs through that day,
    // so S barely moves and the verdict HOLDS — the same spike doubles
    // q302's OLS slope
    val n = rows("2_trend").getAs[Long]("n_days")
    val dS = math.abs(rows("2_trend").getAs[Long]("s_stat") -
      rows("3_trend_spiked").getAs[Long]("s_stat"))
    assert(dS <= 2L * (n - 1L), s"spike moved S by $dS")
    assert(rows("3_trend_spiked").getAs[Long]("significant") == 1L)
    rows.values.foreach { r =>
      val (sS, d) = (r.getAs[Long]("s_stat"), r.getAs[Long]("var_denom18"))
      val z2 = if (sS == 0L || d == 0L) 0L
        else 18000L * (math.abs(sS) - 1L) * (math.abs(sS) - 1L) / d
      assert(r.getAs[Long]("z2_milli") == z2)
      assert(r.getAs[Long]("significant") == (if (z2 > 3841L) 1L else 0L))
    }
  }

  // ------------------------------------------------------------- X146

  test("split leakage: exact-dup families crossing the split are counted") {
    import spark.implicits._
    graft.functions.Fingerprint.register(spark)
    val rows = PipelineOps.q178SplitLeakage(spark, sf).collect()
    assert(rows.nonEmpty)
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select($"lang",
        md5(coalesce($"text", lit(""))).as("h"),
        (expr("graft_fingerprint(concat(coalesce(text, ''), CAST(doc_id AS STRING)))")
          % 10 === 9).as("is_eval"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Boolean]("is_eval")))
    val trainH = d.filter(!_._3).map(_._2).toSet
    val expected = d.filter(_._3).groupBy(_._1).map { case (l, xs) =>
      l -> (xs.length.toLong, xs.count(x => trainH(x._2)).toLong) }
    rows.foreach { r =>
      val (n, leaked) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_eval") == n)
      assert(r.getAs[Long]("n_leaked") == leaked)
    }
  }

  // ------------------------------------------------------------- X150

  test("spearman: discordance equals the driver rank replay") {
    import spark.implicits._
    val row = PipelineOps.q182SpearmanAudit(spark, sf).collect().head
    val cust = graft.sources.Tables.load(spark, sf, "customer")
      .select($"c_custkey", round($"c_acctbal" * 100).cast("long").as("b"))
      .collect().map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("b")))
    val spend = graft.sources.Tables.load(spark, sf, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("sp"))
      .collect().map(r => r.getAs[Long]("o_custkey") -> r.getAs[Long]("sp")).toMap
    val base = cust.map { case (k, b) => (k, b, spend.getOrElse(k, 0L)) }
    def ranks(key: ((Long, Long, Long)) => (Long, Long)): Map[Long, Long] =
      base.sortBy(key).zipWithIndex.map { case (x, i) => x._1 -> (i + 1L) }.toMap
    val rb = ranks(x => (x._2, x._1)); val rs = ranks(x => (x._3, x._1))
    val n = base.length.toLong
    val s2 = base.map(x => { val d = rb(x._1) - rs(x._1); d * d }).sum
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("sum_d2") == s2)
    assert(row.getAs[Long]("discordance_millis") ==
      6L * s2 * 1000L / (n * (n * n - 1L)))
    val d = row.getAs[Long]("discordance_millis")
    assert(d >= 0L && d <= 2000L)
  }

  // ------------------------------------------------------------- X151

  test("copy matrix cells equal the planted template incidence") {
    import spark.implicits._
    val rows = graft.ops.DedupOps.q183CopyMatrix(spark, sf).collect()
    assert(rows.nonEmpty, "planted templates must create cross-source copies")
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", coalesce($"text", lit("")).as("t"))
      .collect().map { r =>
        val id = r.getAs[Long]("doc_id")
        val text = if (id % 23 == 0) s"canonical template block ${id % 7}"
                   else r.getString(2)
        (text, r.getString(1))
      }.distinct
    val bySource = d.groupBy(_._2).map { case (s0, xs) => s0 -> xs.map(_._1).toSet }
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      val shared = (bySource(a) & bySource(b)).size.toLong
      assert(r.getAs[Long]("n_shared") == shared)
      assert(r.getAs[Long]("n_a") == bySource(a).size.toLong)
      assert(r.getAs[Long]("n_b") == bySource(b).size.toLong)
      assert(a < b)
    }
  }

  // ------------------------------------------------------------- X154

  test("compressibility: per-source masses equal the driver gram replay") {
    import spark.implicits._
    val rows = TextOps.q186Compressibility(spark, sf).collect()
    assert(rows.nonEmpty)
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select($"source", coalesce($"text", lit("")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.length >= 4)
    val expected = d.groupBy(_._1).map { case (src, xs) =>
      val per = xs.map { case (_, t) =>
        val grams = (0 to t.length - 4).map(i => t.substring(i, i + 4))
        (grams.length.toLong, grams.distinct.length.toLong)
      }
      src -> (per.length.toLong, per.map(_._1).sum, per.map(_._2).sum,
        per.map(p => p._2 * 1000000L / p._1).sum)
    }
    rows.foreach { r =>
      val (n, g, dct, sp) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_grams") == g)
      assert(r.getAs[Long]("n_distinct") == dct)
      assert(r.getAs[Long]("sum_ppm") == sp)
      assert(r.getAs[Long]("min_ppm") <= r.getAs[Long]("max_ppm"))
    }
  }

  // ------------------------------------------------------------- X155

  test("funnel rates reconcile with q78's stage frame") {
    val rows = EventOps.q187FunnelRates(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("stage")).toSeq == Seq(1L, 2L, 3L))
    val stages = EventOps.q78Funnel(spark, sf).collect()
      .map(_.getAs[Long]("stage"))
    val u0 = stages.length.toLong
    rows.foreach { r =>
      val k = r.getAs[Long]("stage")
      val uk = stages.count(_ >= k).toLong
      assert(r.getAs[Long]("n_users") == uk)
      assert(r.getAs[Long]("cum_ppm") == uk * 1000000L / u0)
    }
    // funnel monotone: each stage no larger than the previous
    val us = rows.map(_.getAs[Long]("n_users"))
    assert(us.sliding(2).forall { case Array(a, b) => b <= a })
  }

  // ------------------------------------------------------------- X156

  test("two-hop reach equals the driver BFS on the support-2 graph") {
    import spark.implicits._
    val rows = AffinityOps.q188TwoHopReach(spark, sf).collect()
    assert(rows.nonEmpty)
    // rebuild the graph on the driver
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val pairs = li.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.foreach { r =>
      val a = r.getAs[Long]("part_key")
      val n1 = adj(a)
      val n2 = n1.flatMap(adj.getOrElse(_, Set.empty)) -- n1 - a
      assert(r.getAs[Long]("degree") == n1.size.toLong)
      assert(r.getAs[Long]("n_two_hop") == n2.size.toLong,
        s"part $a: two-hop reach diverged")
    }
  }

  // ------------------------------------------------------------- X157

  test("rebalance apply: achieved mass equals the copies arithmetic") {
    import spark.implicits._
    graft.functions.Fingerprint.register(spark)
    val rows = PipelineOps.q189RebalanceApply(spark, sf).collect()
    assert(rows.nonEmpty)
    val plan = PipelineOps.q151RebalancePlan(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("factor_ppm")).toMap
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select($"lang",
        size(split($"text", " ")).cast("long").as("nt"),
        expr("graft_fingerprint(concat(coalesce(text, ''), CAST(doc_id AS STRING)))")
          .as("fp"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("nt"), r.getAs[Long]("fp")))
    val expected = d.groupBy(_._1).map { case (lang, xs) =>
      val f = plan(lang)
      val per = xs.map { case (_, nt, fp) =>
        val copies = f / 1000000L + (if (fp % 1000000L < f % 1000000L) 1L else 0L)
        (copies, copies * nt)
      }
      lang -> (per.map(_._1).sum, per.map(_._2).sum)
    }
    rows.foreach { r =>
      val (docs, toks) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("achieved_docs") == docs)
      assert(r.getAs[Long]("achieved_tokens") == toks)
      // the apply should land reasonably close to its target share
      assert(r.getAs[Long]("delta_ppm") < 200000L,
        "achieved mixture drifted far from the planned target")
    }
  }

  // ------------------------------------------------------------- X158

  test("cluster-size histogram reconciles with the q50 resolution") {
    val rows = graft.ops.DedupOps.q190ClusterSizes(spark, sf).collect()
    assert(rows.nonEmpty)
    val clusters = graft.ops.DedupOps.q50DedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("cluster_size"))
      .distinct
    assert(rows.map(_.getAs[Long]("n_clusters")).sum == clusters.length.toLong)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == clusters.map(_._2).sum)
    rows.foreach { r =>
      val band = r.getAs[Long]("band")
      assert(r.getAs[Long]("min_size") >= (1L << band))
      assert(r.getAs[Long]("max_size") <= (1L << (band + 1)) - 1)
    }
  }

  // ------------------------------------------------------------- X159

  test("vocab drift: novelty equals the driver half-split replay") {
    import spark.implicits._
    val rows = CorpusOps.q191VocabDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select($"lang", $"doc_id", $"text").collect()
      .map(r => (r.getString(0), r.getAs[Long]("doc_id"), r.getString(2)))
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val first = d.filter(x => x._1 == lang && x._2 % 2 == 0)
        .flatMap(_._3.split(" ")).toSet
      val secondToks = d.filter(x => x._1 == lang && x._2 % 2 == 1)
        .flatMap(_._3.split(" "))
      val bTypes = secondToks.distinct
      val novelTypes = bTypes.filterNot(first)
      assert(r.getAs[Long]("b_types") == bTypes.length.toLong)
      assert(r.getAs[Long]("b_tokens") == secondToks.length.toLong)
      assert(r.getAs[Long]("new_types") == novelTypes.length.toLong)
      assert(r.getAs[Long]("new_tokens") ==
        secondToks.count(w => !first(w)).toLong)
    }
  }

  // ------------------------------------------------------------- X160

  test("audience overlap: intersections equal the driver set replay") {
    import spark.implicits._
    val rows = EventOps.q192AudienceOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    val inc = graft.sources.Tables.load(spark, sf, "events")
      .select($"event_type", $"user_id").distinct()
      .as[(String, Long)].collect()
    val byType = inc.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      assert(a < b)
      val shared = (byType(a) & byType(b)).size.toLong
      assert(r.getAs[Long]("n_shared") == shared)
      assert(r.getAs[Long]("n_a") == byType(a).size.toLong)
      assert(r.getAs[Long]("n_b") == byType(b).size.toLong)
      assert(r.getAs[Long]("jaccard_ppm") ==
        shared * 1000000L / (byType(a).size + byType(b).size - shared))
    }
  }

  test("secret scan fires exactly on the planted key classes") {
    val rows = PipelineOps.q246SecretScan(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val got = (r.getAs[Long]("n_hex_runs"), r.getAs[Long]("n_aws_keys"),
        r.getAs[Long]("n_cred_assign"), r.getAs[Long]("has_secret"))
      val expected = (id % 4) match {
        case 1 => (1L, 0L, 1L, 1L) // hex-key assignment fires both
        case 2 => (0L, 1L, 0L, 1L) // AWS-style access key id
        case 3 => (0L, 0L, 0L, 0L) // near-miss short value must NOT fire
        case _ => (0L, 0L, 0L, 0L) // natural text is secret-free
      }
      assert(got == expected, s"doc $id: $got")
    }
  }

  test("source divergence: the dense-grid L1 replays on the driver") {
    import spark.implicits._
    val got = AffinityOps.q248SourceDivergence(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("l1_ppm"), r.getAs[Long]("n_shared_vocab"))).toMap
    val words = graft.sources.Tables.load(spark, sf, "documents")
      .select($"source", explode(split($"text", " ")).as("w"))
      .filter($"source".isNotNull && $"w" =!= "")
      .as[(String, String)].collect()
    val cnt = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val vocab = cnt.groupBy(_._1._2).view.mapValues(_.values.sum)
      .toSeq.sortBy { case (w, n) => (-n, w) }.take(256).map(_._1).toSet
    val sources = cnt.keys.map(_._1).toSeq.distinct
    val tot = sources.map(s => s ->
      vocab.toSeq.map(w => cnt.getOrElse((s, w), 0L)).sum).toMap
    def ppm(s: String, w: String): Long =
      cnt.getOrElse((s, w), 0L) * 1000000L / tot(s)
    val expected = (for {
      a <- sources; b <- sources if a < b
    } yield (a, b) -> (
      vocab.toSeq.map(w => math.abs(ppm(a, w) - ppm(b, w))).sum,
      vocab.toSeq.count(w => ppm(a, w) > 0 && ppm(b, w) > 0).toLong)).toMap
    assert(got == expected)
    // a distribution sums to <= 1e6 (floor division), so L1 <= 2e6
    got.values.foreach { case (l1, _) => assert(l1 >= 0L && l1 <= 2000000L) }
  }

  test("watermark lateness: two-phase running max equals the naive window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val got = graft.ops.EventOps.q249WatermarkLateness(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_events"),
        r.getAs[Long]("n_late"), r.getAs[Long]("max_late_us"),
        r.getAs[Long]("sum_late_us"), r.getAs[Long]("late_ppm"))).toMap
    // the naive single-window form the oracle replays — the operator's
    // GlobalOrder two-phase running max must agree exactly
    val w = Window.orderBy($"batch", $"shard", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = graft.sources.Tables.load(spark, sf, "events")
      .select($"event_type", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("us"),
        expr("event_id div 64").as("batch"),
        pmod($"user_id", lit(4L)).as("shard"))
      .withColumn("late_us",
        greatest(coalesce(max($"us").over(w), $"us"), $"us") - $"us")
      .groupBy($"event_type")
      .agg(count(lit(1)), sum(when($"late_us" > 0, 1L).otherwise(0L)),
        max($"late_us"), sum($"late_us"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(2) * 1000000L / r.getLong(1)))
      .toMap
    assert(got == expected)
    // the audit is non-vacuous: some out-of-order arrival exists
    assert(got.values.exists(_._2 > 0L))
  }

  test("EWMA backtest: pure-Scala sequential replay, skill accounted exactly") {
    import spark.implicits._
    val got = graft.ops.EventOps.q258EwmaBacktest(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val daily = graft.sources.Tables.load(spark, sf, "events")
      .select($"event_type",
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
      .as[(String, Long)].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .groupBy(_._1._1).view.mapValues(_.toSeq.map { case ((_, d), c) => (d, c) })
    val expected = daily.map { case (t, ds) =>
      val cs = ds.sortBy(_._1).map(_._2)
      var sPrev = 0L; var cPrev = 0L; var eE = 0L; var eN = 0L; var seen = 0L
      cs.foreach { c =>
        if (seen == 0) { sPrev = c * 1000L }
        else {
          eE += math.abs(c * 1000L - sPrev)
          eN += math.abs(c - cPrev) * 1000L
          sPrev = (300L * c * 1000L + 700L * sPrev) / 1000L
        }
        cPrev = c; seen += 1
      }
      t -> (seen, cs.sum, eE, eN, if (eN == 0) -1L else eE * 1000000L / eN)
    }.toMap
    assert(got == expected)
    // the smoother genuinely beats persistence somewhere (skill < 1e6) and
    // the errors are non-trivial
    assert(got.values.exists(v => v._5 >= 0L && v._5 < 1000000L))
    assert(got.values.forall(_._3 >= 0L))
  }

  test("q293: union signatures replay, MERGE by min, and estimates stay in band") {
    import graft.functions.Fingerprint
    val got = graft.ops.AffinityOps.q293MinhashUnion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.nonEmpty)
    // estimate granularity and identity hold everywhere
    got.values.foreach { case (exact, agree, est, err) =>
      assert(agree >= 0L && agree <= 48L)
      assert(est == agree * 1000000L / 48L && err == est - exact)
    }
    // pure-Scala signature replay for one source + the MERGE property:
    // sketching two halves separately and min-combining equals sketching
    // the union — the reason a 48-long signature works on 1000 executors
    import spark.implicits._
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .filter($"source" === "src0" && $"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def shingles(texts: Seq[String]): Set[String] = texts.flatMap { t =>
      val ws = t.split(" ", -1)
      if (ws.length < 3) Seq.empty
      else ws.sliding(3).map(_.mkString(" ")).toSeq
    }.toSet
    def sig(sh: Set[String]): Seq[Long] = (0 until 48).map { i =>
      sh.map { t =>
        (Fingerprint.hashString(t) * (4L * i + 3L) + (2L * i + 1L)) % 1000000007L
      }.min
    }
    val all = sig(shingles(docs.map(_._2).toSeq))
    // split by POSITION (all src0 doc_ids share parity — source = id%20)
    val (h1, h2) = docs.zipWithIndex.partition(_._2 % 2 == 0)
    val merged = sig(shingles(h1.map(_._1._2).toSeq))
      .zip(sig(shingles(h2.map(_._1._2).toSeq))).map { case (a, b) => math.min(a, b) }
    assert(merged == all)
    // the estimator lands within 4 sigma of exact at these Jaccards
    got.values.foreach { case (_, _, _, err) =>
      assert(math.abs(err) <= 200000L, s"err $err")
    }
  }

  test("q300 autocorrelation: replay exact; the weekly plant reads at lag 7 only") {
    import spark.implicits._
    val got = graft.ops.EventOps.q300Autocorrelation(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == (1L to 7L).toSet)
    // pure-Scala replay from raw events
    val days = graft.sources.Tables.load(spark, sf, "events")
      .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("d"))
      .as[Long].collect().groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    val xs = days.map { case (d, n) => if (d % 7 == 3) 2 * n else n }
    val nD = xs.length.toLong
    val sSum = xs.sum
    val dev = xs.map(x => nD * x - sSum)
    val den = dev.map(v => v * v).sum
    (1 to 7).foreach { k =>
      val num = dev.dropRight(k).zip(dev.drop(k)).map { case (a, b) => a * b }.sum
      assert(got(k.toLong) == ((nD - k, num * 1000000L / den)), s"lag $k")
    }
    // the detection criterion: positive at the planted period and the
    // clear maximum over every off-phase lag (342229 ppm at sf0.001,
    // 757504 at sf0.01 — a +50% plant measured BELOW a noise lag at
    // sf0.001's floor, which is why the plant doubles)
    assert(got(7L)._2 > 0L, s"r7 ${got(7L)._2}")
    (1 to 6).foreach(k => assert(got(k.toLong)._2 < got(7L)._2, s"lag $k"))
  }

  test("q302 Theil-Sen: replay exact; one corrupted day flips OLS, not the median") {
    import spark.implicits._
    val got = graft.ops.EventOps.q302TheilSen(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.size == 4)
    // replay both estimators on both series from raw events
    val days = graft.sources.Tables.load(spark, sf, "events")
      .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("d"))
      .as[Long].collect().groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    val base = days.zipWithIndex.map { case ((_, n), i) => n + 4L * (i + 1) }.toArray
    val corrupted = base.clone(); corrupted(9) = corrupted(9) * 10L
    def theilSen(xs: Array[Long]): Long = {
      val ps = for { i <- xs.indices; j <- (i + 1) until xs.length }
        yield (xs(j) - xs(i), (j - i).toLong)
      val st = ps.sortBy { case (dy, dx) => (dy.toDouble / dx, dy, dx) }
      val (dy, dx) = st((st.size - 1) / 2); dy * 1000L / dx
    }
    def olsS(xs: Array[Long]): Long = {
      val nD = xs.length.toLong
      val si = (1L to nD).sum; val si2 = (1L to nD).map(i => i * i).sum
      val sx = xs.sum
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      (nD * six - si * sx) * 1000L / (nD * si2 - si * si)
    }
    assert(got(("1_clean", "theil_sen")) == theilSen(base))
    assert(got(("1_clean", "ols")) == olsS(base))
    assert(got(("2_corrupted", "theil_sen")) == theilSen(corrupted))
    assert(got(("2_corrupted", "ols")) == olsS(corrupted))
    // both estimators agree on the clean drift (~4/day planted)
    assert(math.abs(got(("1_clean", "theil_sen")) - 4000L) < 1500L)
    assert(math.abs(got(("1_clean", "ols")) - got(("1_clean", "theil_sen"))) < 1000L)
    // robustness: the median moves a little, OLS is dragged far away
    val tsShift = math.abs(got(("2_corrupted", "theil_sen")) - got(("1_clean", "theil_sen")))
    val olsShift = math.abs(got(("2_corrupted", "ols")) - got(("1_clean", "ols")))
    assert(tsShift < 1000L && olsShift > 4L * math.max(tsShift, 1L),
      s"ts $tsShift ols $olsShift")
  }

  test("q285 CUSUM: pure-Scala fold replay; alarm only after the planted shift") {
    import spark.implicits._
    val got = graft.ops.EventOps.q285CusumDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    // sequential replay from raw rows: daily counts -> plant -> CUSUM fold
    val days = graft.sources.Tables.load(spark, sf, "events")
      .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("d"))
      .as[Long].collect().groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    val xs = days.zipWithIndex.map { case ((_, n), i) =>
      if (i + 1 >= 16) n + n / 4 else n
    }
    val t0 = xs.take(7).sum
    var sp = 0L; var sn = 0L
    val expect = days.zip(xs).zipWithIndex.map { case (((d, _), x), i) =>
      sp = math.max(0L, sp + 7 * x - t0 - t0 / 10)
      sn = math.max(0L, sn - 7 * x + t0 - t0 / 10)
      (d, i + 1L, x, sp, sn, if (sp > t0 / 2 || sn > t0 / 2) 1L else 0L)
    }
    assert(got == expect)
    // no false alarm in the unshifted regime; detection within 10 days of
    // the day-16 shift; the one-sided plant leaves the downward side silent
    val firstAlarm = got.find(_._6 == 1L).map(_._2)
    assert(got.filter(_._2 < 16L).forall(_._6 == 0L))
    assert(firstAlarm.exists(a => a >= 16L && a <= 26L), s"first alarm $firstAlarm")
    assert(got.forall(_._5 <= t0 / 2))
  }

  // ------------------------------------------------------------- X378

  test("q395: warm-start rank increments replay exactly; warm dominates cold every round") {
    import spark.implicits._
    val ops = graft.ops.AffinityOps
    val rows = ops.q395IncrRank(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // sequential replay of both graphs and all 18 rounds
    val po = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey")
      .filter($"l_orderkey".isNotNull && $"l_partkey".isNotNull)
      .distinct().as[(Long, Long)].collect()
    val pairs = po.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).collect { case (p, g) if g.size >= 2 =>
      (p._1, p._2, g.size.toLong)
    }.toSeq
    def graph(pr: Seq[(Long, Long, Long)]) = {
      val e = pr.flatMap(p => Seq((p._1, p._2, p._3), (p._2, p._1, p._3)))
      val wt = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      (e, wt)
    }
    def round(e: Seq[(Long, Long, Long)], wt: Map[Long, Long],
              sc: Map[Long, Long]): Map[Long, Long] =
      e.groupBy(_._2).view.mapValues { es =>
        val inflow = es.map { case (src, _, w) => sc(src) * w / wt(src) }.sum
        150000L + 850L * inflow / 1000L
      }.toMap
    val (eo, wto) = graph(pairs)
    val oldNodes = eo.map(_._1).distinct
    var so = oldNodes.map(_ -> 1000000L).toMap
    (1 to ops.IncrRankRounds).foreach(_ => so = round(eo, wto, so))
    val anchors = oldNodes.filter(_ % 500L == 0L)
      .map(p => (-39501L, p, 2L))
    val (en, wtn) = graph(pairs ++ ops.RankBatchPlant ++ anchors)
    val newNodes = en.map(_._1).distinct
    def increments(init: Map[Long, Long]): Seq[(Long, Long)] = {
      var cur = init
      (1 to ops.IncrRankRounds).map { _ =>
        val nxt = round(en, wtn, cur)
        val l1 = nxt.map { case (k, v) => math.abs(v - cur(k)) }.sum
        val nd = nxt.count { case (k, v) => v != cur(k) }.toLong
        cur = nxt
        (l1, nd)
      }
    }
    val coldInc = increments(newNodes.map(_ -> 1000000L).toMap)
    val warmInc = increments(newNodes.map(k =>
      k -> so.getOrElse(k, 1000000L)).toMap)
    (1 to ops.IncrRankRounds).foreach { r =>
      val (cl, cn) = coldInc(r - 1); val (wl, wn) = warmInc(r - 1)
      assert(rows(s"cold:$r").getAs[Long]("delta_l1") == cl, s"cold $r")
      assert(rows(s"cold:$r").getAs[Long]("n_moved") == cn, s"cold $r")
      assert(rows(s"warm:$r").getAs[Long]("delta_l1") == wl, s"warm $r")
      assert(rows(s"warm:$r").getAs[Long]("n_moved") == wn, s"warm $r")
      // the warm-start claim: strictly less update work at every round
      assert(wl < cl, s"round $r: warm $wl !< cold $cl")
    }
    // geometric decay of the cold leg (the damping factor at work)
    val colds = coldInc.map(_._1)
    assert(colds.zip(colds.tail).forall { case (a, b) => b < a })
  }

  // ------------------------------------------------------------- X368

  test("q387: byte bills replay exactly; the periodic plant collapses under delta-of-delta") {
    import spark.implicits._
    val rows = graft.ops.EventOps.q387TsCompression(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // plant pins: 64 rows, first 8B + one 3B delta + 62 one-byte zeros
    val p = rows("3_delta_of_delta:plant")
    assert(p.getAs[Long]("n_rows") == 64L)
    assert(p.getAs[Long]("total_bytes") == 73L)
    assert(p.getAs[Long]("ratio_ppm") == 73L * 1000000L / 512L)
    assert(p.getAs[Long]("n_zero") == 62L && p.getAs[Long]("n_one_byte") == 62L)
    assert(rows("2_delta_zigzag:plant").getAs[Long]("total_bytes") ==
      8L + 63L * 3L) // every delta is 1e6 us -> zigzag 2e6 -> 3 bytes
    // full corpus replay: per-user sorted streams, both difference
    // levels, zigzag + varint bands
    def vb(x: Long): Long = {
      val z = if (x >= 0L) 2L * x else -2L * x - 1L
      Seq(128L, 16384L, 2097152L, 268435456L, 34359738368L,
        4398046511104L, 562949953421312L, 72057594037927936L)
        .indexWhere(z < _) match {
        case -1 => 9L
        case i  => (i + 1).toLong
      }
    }
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id".cast("long"),
        expr("unix_micros(cast(ts as timestamp))"),
        $"event_id".cast("long"))
      .as[(Long, Long, Long)].collect()
    var (n, bd, bdd, nz1, nz2, ob1, ob2) = (0L, 0L, 0L, 0L, 0L, 0L, 0L)
    ev.groupBy(_._1).values.foreach { g =>
      val us = g.sortBy(e => (e._2, e._3)).map(_._2)
      val d1 = us.indices.map(i => if (i == 0) None else Some(us(i) - us(i - 1)))
      val d2 = us.indices.map(i =>
        if (i < 2) None else Some(d1(i).get - d1(i - 1).get))
      us.indices.foreach { i =>
        n += 1
        val b1 = d1(i).map(vb).getOrElse(8L)
        val b2 = d2(i).map(vb).orElse(d1(i).map(vb)).getOrElse(8L)
        bd += b1; bdd += b2
        if (d1(i).contains(0L)) nz1 += 1
        if (d2(i).contains(0L)) nz2 += 1
        if (b1 == 1L) ob1 += 1
        if (b2 == 1L) ob2 += 1
      }
    }
    val c2 = rows("2_delta_zigzag:corpus"); val c3 = rows("3_delta_of_delta:corpus")
    assert(rows("1_raw:corpus").getAs[Long]("total_bytes") == 8L * n)
    assert(c2.getAs[Long]("n_rows") == n && c3.getAs[Long]("n_rows") == n)
    assert(c2.getAs[Long]("total_bytes") == bd)
    assert(c3.getAs[Long]("total_bytes") == bdd)
    assert(c2.getAs[Long]("ratio_ppm") == bd * 1000000L / (8L * n))
    assert(c2.getAs[Long]("n_zero") == nz1 && c3.getAs[Long]("n_zero") == nz2)
    assert(c2.getAs[Long]("n_one_byte") == ob1 &&
      c3.getAs[Long]("n_one_byte") == ob2)
  }

  // ------------------------------------------------------------- X365

  test("q384: BFS distances replay exactly; plant chain and island pinned") {
    import spark.implicits._
    val ops = graft.ops.AffinityOps
    val rows = ops.q384BfsDistance(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // plant pins: the chain walks 0..5 off its seed, the island has no
    // path to any seed
    (1 to 6).foreach { i =>
      assert(rows(s"part:-3840$i").getAs[Long]("dist") == (i - 1).toLong)
    }
    assert(rows("part:-38413").getAs[Long]("dist") == -1L)
    assert(rows("part:-38414").getAs[Long]("dist") == -1L)
    // independent sequential BFS replay over the same graph
    val po = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey")
      .filter($"l_orderkey".isNotNull && $"l_partkey".isNotNull)
      .distinct().as[(Long, Long)].collect()
    val support2 = po.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= 2).keys
    val edges = support2.toSeq ++ ops.BfsPlant
    val adj = (edges.map(e => (e._1, e._2)) ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = adj.keySet.filter(v => (v > 0L && v % 97L == 0L) ||
      v == -38401L)
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj(_)).diff(dist.keySet)
      val d = dist(frontier.head) + 1L
      dist ++= next.map(_ -> d)
      frontier = next
    }
    val hist = dist.values.groupBy(identity).view.mapValues(_.size.toLong)
    hist.toSeq.sortBy(_._1).foreach { case (d, n) =>
      assert(rows(s"dist:$d").getAs[Long]("n_nodes") == n, s"dist $d")
    }
    assert(rows("unreachable").getAs[Long]("n_nodes") ==
      adj.keySet.size.toLong - dist.size.toLong)
    assert(rows("z_summary").getAs[Long]("dist") == dist.values.max)
    assert(rows("z_summary").getAs[Long]("n_nodes") == dist.size.toLong)
    // every emitted distance row is a real BFS level: contiguous 0..max
    (0L to dist.values.max).foreach(d => assert(rows.contains(s"dist:$d")))
  }

  // ------------------------------------------------------------- X364

  test("q383: hamming codes, ranks and hits replay exactly; recall monotone in depth") {
    import spark.implicits._
    val ops = graft.ops.SimilarityOps
    val rows = ops.q383HammingAnn(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // milli vectors via the engine's own quantizer (the one definition),
    // everything downstream replayed in plain Scala
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id",
        s"${graft.functions.Exact.milliArrayExpr("embedding")} AS q")
      .as[(Long, Array[Long])].collect()
      .filter(_._2.map(x => x * x).sum > 0L)
      .sortBy(_._1)
    def code(q: Array[Long]): (Long, Long) = {
      def half(lo: Int): Long = (lo until lo + 32).map { i =>
        val dot = (0 until 64).map(j => ops.jlSign(i, j) * q(j)).sum
        if (dot > 0L) 1L << (i - lo) else 0L
      }.sum
      (half(0), half(32))
    }
    val coded = vecs.map { case (id, q) => (id, q, code(q)) }
    val queries = coded.filter(c => c._1 >= 8L && c._1 < 18L)
    val corpus = coded.filter(_._1 >= 18L)
    assert(queries.length == 10)
    var (th5, tc8, tc32) = (0L, 0L, 0L)
    queries.foreach { case (qid, aq, (qh1, qh2)) =>
      val scored = corpus.map { case (vid, v, (h1, h2)) =>
        val ham = java.lang.Long.bitCount(h1 ^ qh1).toLong +
          java.lang.Long.bitCount(h2 ^ qh2).toLong
        val d2 = (0 until 64).map(j => (v(j) - aq(j)) * (v(j) - aq(j))).sum
        (vid, ham, d2)
      }
      val rkt = scored.sortBy(t => (t._3, t._1)).map(_._1).zipWithIndex.toMap
      val rkh = scored.sortBy(t => (t._2, t._1)).map(_._1).zipWithIndex.toMap
      def hits(c: Int): Long =
        scored.count(t => rkt(t._1) < 5 && rkh(t._1) < c).toLong
      val r = rows(s"q:$qid")
      assert(r.getAs[Long]("hits_ham5") == hits(5), s"q$qid ham5")
      assert(r.getAs[Long]("hits_c8") == hits(8), s"q$qid c8")
      assert(r.getAs[Long]("hits_c32") == hits(32), s"q$qid c32")
      assert(r.getAs[Long]("ham5_ppm") == hits(5) * 200000L)
      // a truth row inside a candidate set survives subset rescoring,
      // so recall is monotone in the rescore depth BY CONSTRUCTION
      assert(hits(5) <= hits(8) && hits(8) <= hits(32), s"q$qid monotone")
      th5 += hits(5); tc8 += hits(8); tc32 += hits(32)
    }
    val z = rows("z_total")
    assert(z.getAs[Long]("hits_ham5") == th5 &&
      z.getAs[Long]("hits_c8") == tc8 && z.getAs[Long]("hits_c32") == tc32)
    assert(z.getAs[Long]("c32_ppm") == tc32 * 1000000L / 50L)
  }
}
