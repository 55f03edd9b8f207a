package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.{CorpusOps, EventOps}
import graft.operators.TransferOps

/** Invariant checks for the round-4 analytics operators (SURVEY.md §2.7
  * X62-X65) beyond the driver's DuckDB hash gate: the Misra-Gries sketch
  * must retain every true heavy hitter (the property that makes the exact
  * oracle legitimate), retention offsets must reconcile to cohort sizes,
  * the trailing-window actives must equal the brute-force range join, and
  * the snapshot diff must classify exactly per the mutation rules.
  */
class AnalyticsOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession("analytics-ops-spec", 4)

  override def afterAll(): Unit = spark.stop()

  // ------------------------------------------------------------- X62

  test("misra-gries retains every item above N/(k+1), any input order") {
    // skewed stream: item i appears 2^(10-i) times, i = 0..9 (N = 2046)
    val items = (0 to 9).flatMap(i => Seq.fill(1 << (10 - i))(s"w$i"))
    val n = items.size
    val k = 5
    for (seed <- Seq(1, 7, 42)) {
      val shuffled = new scala.util.Random(seed).shuffle(items)
      val mg = new graft.functions.MisraGries(k)
      // exercise reduce AND merge: fold a third and the remaining two
      // thirds separately (unequal partials), then merge
      val (l, r) = shuffled.splitAt(n / 3)
      val b = mg.merge(l.foldLeft(mg.zero)(mg.reduce), r.foldLeft(mg.zero)(mg.reduce))
      val (cands, total) = mg.finish(b)
      assert(total == n)
      val exact = items.groupBy(identity).view.mapValues(_.size).toMap
      val mustSurvive = exact.collect { case (w, c) if c > n / (k + 1) => w }
      mustSurvive.foreach(w => assert(cands.contains(w), s"lost heavy hitter $w"))
      assert(cands.size <= k)
    }
  }

  test("q100 equals the exact full-shuffle heavy-hitter query") {
    import spark.implicits._
    val got = CorpusOps.q100HeavyHitters(spark, sf).collect()
    val words = graft.sources.Tables.load(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("w"))
    val total = words.count()
    val exact = words.groupBy($"w").agg(count(lit(1)).as("n"))
      .filter($"n" * 200L > total).orderBy($"w").collect()
    assert(got.length == exact.length && got.nonEmpty)
    got.zip(exact).foreach { case (g, e) =>
      assert(g.getAs[String]("w") == e.getAs[String]("w"))
      assert(g.getAs[Long]("n_occurrences") == e.getAs[Long]("n"))
    }
  }

  // ------------------------------------------------------------- X63

  test("retention: offset 0 is 1e6 ppm and cohort sizes cover all users") {
    import spark.implicits._
    val rows = EventOps.q99RetentionCohorts(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getAs[Long]("week_offset") == 0L)
      .foreach(r => assert(r.getAs[Long]("retention_ppm") == 1000000L))
    // every cohort's offset-0 bucket counts each user exactly once
    val cohortTotal = rows.filter(_.getAs[Long]("week_offset") == 0L)
      .map(_.getAs[Long]("n_users")).sum
    val nUsers = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id").distinct().count()
    assert(cohortTotal == nUsers)
    // retention never exceeds the cohort size
    rows.foreach(r => assert(r.getAs[Long]("retention_ppm") <= 1000000L))
  }

  // ------------------------------------------------------------- X64

  test("trailing-7d actives equal the brute-force range join") {
    import spark.implicits._
    val got = EventOps.q101ActiveWindow(spark, sf)
      .select($"day", $"n_active_7d").as[(Long, Long)].collect().toMap
    val pairs = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id",
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
      .distinct().as[(Long, Long)].collect()
    val days = pairs.map(_._2)
    val brute = (days.min to days.max).map { d =>
      d -> pairs.filter(p => p._2 >= d - 6 && p._2 <= d).map(_._1).distinct.size.toLong
    }.filter(_._2 > 0L).toMap
    assert(got == brute)
  }

  // ------------------------------------------------------------- X65

  test("snapshot diff statuses match the mutation rules exactly") {
    import spark.implicits._
    val byStatus = TransferOps.q102SnapshotDiff(spark, sf).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_rows")).toMap
    val keys = graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_orderkey").as[Long].collect()
    val expAdded = keys.count(_ % 211 == 0).toLong
    val expDeleted = keys.count(_ % 177 == 0).toLong
    val expChanged = keys.count(k => k % 100 == 0 && k % 177 != 0).toLong
    assert(byStatus.getOrElse("added", 0L) == expAdded)
    assert(byStatus.getOrElse("deleted", 0L) == expDeleted)
    assert(byStatus.getOrElse("changed", 0L) == expChanged)
    assert(byStatus.values.sum == keys.length + expAdded)
  }

  // ------------------------------------------------------------- X66

  test("banded simhash join finds exactly the brute-force hamming<=3 pairs") {
    import spark.implicits._
    val got = graft.ops.DedupOps.q103SimhashNearDup(spark, sf)
      .select($"doc_id", $"n_near_dups").as[(Long, Long)].collect().toMap
    val sims = graft.ops.TextOps.q35Simhash(spark, sf)
      .as[(Long, Long)].collect()
    val brute = sims.map { case (id, h) =>
      id -> sims.count { case (id2, h2) =>
        id2 != id && java.lang.Long.bitCount(h ^ h2) <= 3
      }.toLong
    }.toMap
    assert(got == brute)
    assert(got.values.exists(_ > 0L), "expected at least one near-dup pair")
  }

  // ------------------------------------------------------------- X67

  test("partitionBy layout prunes non-matching partitions at the scan") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune_spec")
    try {
      graft.sources.Tables.load(spark, sf, "events")
        .write.partitionBy("event_type").parquet(s"$tmp/ev")
      // ground truth from the filesystem: data files per partition dir
      def dataFiles(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
        val st = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
        } finally st.close()
      }
      val all = dataFiles(java.nio.file.Path.of(s"$tmp/ev"))
      val purchaseOnly = all.filter(_.toString.contains("event_type=purchase"))
      assert(purchaseOnly.nonEmpty && purchaseOnly.size < all.size,
        s"layout not partitioned: ${all.size} files, ${purchaseOnly.size} purchase")

      val scan = spark.read.parquet(s"$tmp/ev")
        .filter($"event_type" === "purchase")
      // execute THIS queryExecution so the scan node's metrics populate
      scan.queryExecution.toRdd.foreach(_ => ())
      def leafScan(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.FileSourceScanExec = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          leafScan(a.executedPlan)
        case other => other.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.getOrElse(fail(s"no FileSourceScanExec in\n$other"))
      }
      val f = leafScan(scan.queryExecution.executedPlan)
      // the pruning predicate sits in PartitionFilters (not a row filter)
      assert(f.partitionFilters.exists(_.references.exists(_.name == "event_type")),
        f.metadata.getOrElse("PartitionFilters", "<none>"))
      // and the scan OPENED only the matching partition's files
      assert(f.metrics("numFiles").value == purchaseOnly.size.toLong,
        s"scan read ${f.metrics("numFiles").value} files, " +
          s"expected ${purchaseOnly.size} of ${all.size}")
    } finally {
      graft.transfer.Transfer.deleteRecursively(tmp)
    }
  }

  // ------------------------------------------------------------- X68

  test("profiler stats are internally consistent") {
    val rows = graft.operators.SchemaOps.q105ProfileTable(spark, sf).collect()
    assert(rows.length == 6)
    val nOrders = graft.sources.Tables.load(spark, sf, "orders").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nulls") >= 0L)
      assert(r.getAs[Long]("n_distinct") <= nOrders)
      assert(r.getAs[String]("min_s") != null)
    }
    val byCol = rows.map(r => r.getAs[String]("column_name") -> r).toMap
    // the primary key is unique and non-null
    assert(byCol("o_orderkey").getAs[Long]("n_distinct") == nOrders)
    assert(byCol("o_orderkey").getAs[Long]("n_nulls") == 0L)
  }

  // ------------------------------------------------------------- X69

  test("distributed integer k-means equals the single-machine run") {
    import spark.implicits._
    val got = graft.ops.SimilarityOps.q106Kmeans(spark, sf).collect()
      .map(r => (r.getAs[Long]("cluster_id"),
        (r.getAs[Long]("n_members"), r.getAs[Long]("inertia")))).toMap

    // plain-Scala Lloyd's with the identical quantization/tie/round rules
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .as[(Long, Array[Long])].collect().sortBy(_._1)
    var cents: Array[Array[Long]] = vecs.take(8).map(_._2)
    def nearest(q: Array[Long]): (Int, Long) = {
      var best = -1; var bd = Long.MaxValue
      for (c <- cents.indices) {
        var d = 0L; var i = 0
        while (i < q.length) { val t = q(i) - cents(c)(i); d += t * t; i += 1 }
        if (d < bd) { bd = d; best = c }
      }
      (best, bd)
    }
    for (_ <- 1 until 3) {
      val byC = vecs.groupBy(v => nearest(v._2)._1)
      cents = cents.indices.toArray.map { c =>
        byC.get(c).fold(cents(c)) { m =>
          val d = m.head._2.length
          // HALF_UP on the decimal repr, matching Spark's Round and
          // DuckDB's round exactly — floor(x+0.5) tricks round the wrong
          // way for doubles epsilon-below a .5 boundary
          def rnd(x: Double): Long = BigDecimal(x)
            .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
          Array.tabulate(d)(i => rnd(m.map(_._2(i)).sum.toDouble / m.size))
        }
      }
    }
    val local = vecs.map(v => nearest(v._2)).groupBy(_._1)
      .map { case (c, xs) => c.toLong -> (xs.length.toLong, xs.map(_._2).sum) }
    assert(got == local)
    assert(got.values.map(_._1).sum == vecs.length)
  }

  // ------------------------------------------------------------- X205

  test("label-noise audit matches a driver Lloyd's + knn-majority replay") {
    import spark.implicits._
    val got = graft.ops.SimilarityOps.q237LabelNoise(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("label"), r.getAs[Long]("majority_label"),
          r.getAs[Long]("majority_votes"), r.getAs[Long]("flagged"))).toMap
    // driver replay: the q106 Lloyd's rules (quantize, lowest-cid ties,
    // HALF_UP centroid rounding), then within-cluster top-5 by (d2, id)
    // and the (votes desc, label asc) majority
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "CAST(label AS BIGINT)",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .as[(Long, Long, Array[Long])].collect().sortBy(_._1)
    var cents: Array[Array[Long]] = vecs.take(8).map(_._3)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    def nearest(q: Array[Long]): Int = {
      var best = -1; var bd = Long.MaxValue
      for (c <- cents.indices)
        if (d2(q, cents(c)) < bd) { bd = d2(q, cents(c)); best = c }
      best
    }
    for (_ <- 1 until 3) {
      val byC = vecs.groupBy(v => nearest(v._3))
      cents = cents.indices.toArray.map { c =>
        byC.get(c).fold(cents(c)) { m =>
          def rnd(x: Double): Long = BigDecimal(x)
            .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
          Array.tabulate(m.head._3.length)(i =>
            rnd(m.map(_._3(i)).sum.toDouble / m.size))
        }
      }
    }
    val byCluster = vecs.groupBy(v => nearest(v._3))
    val expected = byCluster.values.flatMap { members =>
      // a vector ALONE in its cluster has no neighborhood: the operator
      // emits no row for it (the pair join is empty) — mirror that here
      // instead of crashing on .head of an empty vote list
      members.flatMap { case (vid, lab, q) =>
        val top5 = members.filter(_._1 != vid)
          .map { case (ov, ol, oq) => (d2(q, oq), ov, ol) }
          .sortBy(t => (t._1, t._2)).take(5)
        top5.groupBy(_._3).view.mapValues(_.size)
          .toSeq.sortBy { case (l, c) => (-c, l) }.headOption
          .map { case (wl, wc) =>
            vid -> (lab, wl, wc.toLong, if (lab != wl) 1L else 0L) }
      }
    }.toMap
    assert(got == expected)
    // the audit is non-vacuous: at least one flagged vector exists
    assert(got.values.exists(_._4 == 1L))
  }

  // ------------------------------------------------------------- X211

  test("coreset sample: the two-stage draw equals the global per-cluster top-k") {
    import spark.implicits._
    val got = graft.ops.SimilarityOps.q244CoresetSample(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("n_selected"),
          r.getAs[Long]("sel_id_sum"), r.getAs[Long]("sel_d2_sum"))).toMap
    // q106's Lloyd's replay to the final assignment, then the LCG draw
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .as[(Long, Array[Long])].collect().sortBy(_._1)
    var cents: Array[Array[Long]] = vecs.take(8).map(_._2)
    def nearest(q: Array[Long]): (Int, Long) = {
      var best = -1; var bd = Long.MaxValue
      for (c <- cents.indices) {
        var d = 0L; var i = 0
        while (i < q.length) { val t = q(i) - cents(c)(i); d += t * t; i += 1 }
        if (d < bd) { bd = d; best = c }
      }
      (best, bd)
    }
    for (_ <- 1 until 3) {
      val byC = vecs.groupBy(v => nearest(v._2)._1)
      cents = cents.indices.toArray.map { c =>
        byC.get(c).fold(cents(c)) { m =>
          def rnd(x: Double): Long = BigDecimal(x)
            .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
          Array.tabulate(m.head._2.length)(i =>
            rnd(m.map(_._2(i)).sum.toDouble / m.size))
        }
      }
    }
    val expected = vecs.map { case (vid, q) =>
      val (c, d) = nearest(q); (vid, c, d)
    }.groupBy(_._2).map { case (c, ms) =>
      // the GLOBAL per-cluster draw — the operator's salted two-stage
      // top-k must select the identical set (two-stage top-k is exact)
      val sel = ms.sortBy(m =>
        ((Math.floorMod(m._1, 2147483648L) * 1103515245L + 12345L)
          % 2147483648L, m._1)).take(10)
      c.toLong -> (ms.length.toLong, sel.length.toLong,
        sel.map(_._1).sum, sel.map(_._3).sum)
    }
    assert(got == expected)
    got.values.foreach { case (n, k, _, _) => assert(k == math.min(10L, n)) }
  }

  // ------------------------------------------------------------- X206

  test("dedup-aware mixture mass reconciles with q50's cluster table") {
    import spark.implicits._
    val clusters = graft.ops.DedupOps.q50DedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_size")).toMap
    val srcs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val expected = srcs.groupBy(_._2).map { case (src, ds) =>
      val ws = ds.map { case (id, _) => 1000000L / clusters.getOrElse(id, 1L) }
      src -> (ds.length.toLong, ds.count(d => clusters.contains(d._1)).toLong,
        ws.sum, ws.sum / ds.length)
    }
    val got = graft.ops.DedupOps.q238DedupWeights(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_clustered"),
          r.getAs[Long]("eff_mass_ppm"), r.getAs[Long]("eff_ratio_ppm"))).toMap
    assert(got == expected)
    // soft-dedup algebra: effective mass never exceeds raw mass, and a
    // clustered doc always weighs less than an unclustered one
    got.foreach { case (src, (n, _, eff, _)) =>
      assert(eff <= n * 1000000L, src)
    }
  }

  // ------------------------------------------------------------- X70

  test("bigram predictability: ppm bounded, pair counts reconcile") {
    import spark.implicits._
    val rows = graft.ops.CorpusOps.q107BigramLm(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ppm = r.getAs[Long]("avg_predict_ppm")
      assert(ppm > 0L && ppm <= 1000000L, s"ppm out of range: $ppm")
    }
    // every scored doc contributes exactly (n_words - 1) pairs
    val nPairs = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_pairs")).toMap
    val expected = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", (size(split($"text", " ")) - 1).cast("long").as("np"))
      .filter($"np" >= 1L).as[(Long, Long)].collect().toMap
    assert(nPairs == expected)
  }

  // ------------------------------------------------------------- X71

  test("k-anonymity audit partitions the table and flags consistently") {
    val rows = graft.ops.PipelineOps.q108KanonAudit(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_members")).sum
    assert(total == graft.sources.Tables.load(spark, sf, "customer").count())
    rows.foreach { r =>
      val n = r.getAs[Long]("n_members")
      assert(r.getAs[Long]("risk_ppm") == 1000000L / n)
      assert(r.getAs[String]("verdict") == (if (n < 5) "suppress" else "publish"))
    }
  }

  // ------------------------------------------------------------- X72

  test("nested export fingerprint matches a driver-side reassembly") {
    import spark.implicits._
    val got = graft.operators.TransferOps.q109NestedExport(spark, sf)
      .filter($"l_orderkey" <= 50L)
      .collect().map(r => r.getAs[Long]("l_orderkey") ->
        (r.getAs[Long]("n_items"), r.getAs[String]("items_md5"))).toMap
    val items = graft.sources.Tables.load(spark, sf, "lineitem")
      .filter($"l_orderkey" <= 50L)
      .select($"l_orderkey",
        concat_ws(":", $"l_linenumber".cast("string"), $"l_partkey".cast("string"),
          round($"l_quantity" * 100).cast("long").cast("string"),
          round($"l_extendedprice" * 100).cast("long").cast("string")).as("item"))
      .as[(Long, String)].collect()
    val local = items.groupBy(_._1).map { case (k, xs) =>
      val joined = xs.map(_._2).sorted.mkString("|")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(joined.getBytes("UTF-8")).map("%02x".format(_)).mkString
      k -> (xs.length.toLong, md)
    }
    assert(got == local && got.nonEmpty)
  }

  // ------------------------------------------- X137-X139 (TPC-H classics)

  test("volume shipping: strictly bilateral pairs, cents mass positive") {
    val rows = graft.operators.Relational.q169VolumeShipping(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sn, cn) = (r.getAs[String]("supp_nation"), r.getAs[String]("cust_nation"))
      assert(Set("NATION_3", "NATION_19")(sn) && Set("NATION_3", "NATION_19")(cn))
      assert(sn != cn, "same-nation flow must be excluded")
      assert(r.getAs[Long]("revenue_cents") > 0L)
    }
  }

  test("market share: national slice bounded by the regional total") {
    val rows = graft.operators.Relational.q170MarketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tot = r.getAs[Long]("total_cents"); val nat = r.getAs[Long]("nation_cents")
      assert(nat >= 0L && nat <= tot)
      assert(r.getAs[Long]("share_ppm") == nat * 1000000L / tot)
    }
  }

  test("product margin: margin algebra holds row by row") {
    val rows = graft.operators.Relational.q171ProductMargin(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("margin_cents") ==
        r.getAs[Long]("revenue_cents") - r.getAs[Long]("cost_cents"))
      assert(r.getAs[Long]("n_lines") > 0L)
    }
  }

  test("local supplier: every reported line is same-nation, in-region") {
    import spark.implicits._
    val rows = graft.operators.Relational.q172LocalSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    // the report's nations must all sit in EUROPE
    val euro = graft.sources.Tables.load(spark, sf, "nation")
      .join(graft.sources.Tables.load(spark, sf, "region")
        .filter($"r_name" === "EUROPE"), $"n_regionkey" === $"r_regionkey")
      .select($"n_name").as[String].collect().toSet
    rows.foreach(r => assert(euro(r.getAs[String]("n_name"))))
    // ordering: revenue desc with name tiebreak
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("revenue_cents") < a.getAs[Long]("revenue_cents") ||
        (b.getAs[Long]("revenue_cents") == a.getAs[Long]("revenue_cents") &&
          a.getAs[String]("n_name") < b.getAs[String]("n_name")))
    }
  }

  test("returned items: top-20 by lost revenue, returns only") {
    val rows = graft.operators.Relational.q173ReturnedItems(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("lost_cents") <= a.getAs[Long]("lost_cents"))
    }
    rows.foreach(r => assert(r.getAs[Long]("n_returned_lines") > 0L))
  }

  test("custdist histogram masses reconcile to the customer count") {
    import spark.implicits._
    val rows = graft.operators.Relational.q174CustDist(spark, sf).collect()
    val nCust = graft.sources.Tables.load(spark, sf, "customer").count()
    val nOrders = graft.sources.Tables.load(spark, sf, "orders").count()
    assert(rows.map(_.getAs[Long]("custdist")).sum == nCust)
    assert(rows.map(r => r.getAs[Long]("c_count") * r.getAs[Long]("custdist"))
      .sum == nOrders)
  }

  test("large volume: every order's quantity fold clears the gate") {
    import spark.implicits._
    val rows = graft.operators.Relational.q175LargeVolume(spark, sf).collect()
    assert(rows.nonEmpty)
    val qty = graft.sources.Tables.load(spark, sf, "lineitem")
      .groupBy($"l_orderkey").agg(sum($"l_quantity").cast("long").as("q"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { r =>
      val ok = r.getAs[Long]("o_orderkey")
      assert(r.getAs[Long]("sum_qty") == qty(ok) && qty(ok) > 250L)
    }
    // completeness: every qualifying order appears
    assert(rows.length == qty.values.count(_ > 250L))
  }

  test("promo effect: slice bounded by the monthly total, months ordered") {
    val rows = graft.operators.Relational.q179PromoEffect(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tot = r.getAs[Long]("total_cents"); val pr = r.getAs[Long]("promo_cents")
      assert(pr >= 0L && pr <= tot)
      assert(r.getAs[Long]("promo_ppm") == pr * 1000000L / tot)
    }
    val months = rows.map(_.getAs[String]("o_month"))
    assert(months.sorted.sameElements(months))
  }

  test("top supplier: reported revenue is the verified maximum") {
    import spark.implicits._
    val rows = graft.operators.Relational.q180TopSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    val best = rows.head.getAs[Long]("total_cents")
    assert(rows.forall(_.getAs[Long]("total_cents") == best))
    // independent recompute of the quarterly max
    val mx = graft.sources.Tables.load(spark, sf, "lineitem")
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1995-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 100)
        .cast("long")).as("c"))
      .agg(max($"c")).collect().head.getLong(0)
    assert(best == mx)
  }

  test("small-qty revenue: the integer gate equals the avg/2 threshold") {
    import spark.implicits._
    val rows = graft.operators.Relational.q181SmallQtyRevenue(spark, sf).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("p_brand") == "Brand#1")
    // driver replay of the per-part threshold
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .join(graft.sources.Tables.load(spark, sf, "part")
        .filter($"p_brand" === "Brand#1"), $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_quantity".cast("long").as("q"),
        round($"l_extendedprice" * 100).cast("long").as("pc"))
      .collect().map(r => (r.getAs[Long]("l_partkey"), r.getAs[Long]("q"),
        r.getAs[Long]("pc")))
    val byPart = li.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.length.toLong, xs.map(_._2).sum) }
    val small = li.filter { case (k, q, _) =>
      val (n, sq) = byPart(k); q * n * 2 < sq }
    assert(rows.head.getAs[Long]("n_small_lines") == small.length.toLong)
    assert(rows.head.getAs[Long]("locked_cents") == small.map(_._3).sum)
  }

  test("conversion latency bands tile q78's completed funnels") {
    val rows = EventOps.q193ConversionLatency(spark, sf).collect()
    assert(rows.nonEmpty)
    val lat = EventOps.q78Funnel(spark, sf).collect()
      .filter(r => !r.isNullAt(r.fieldIndex("purchase_us")))
      .map(r => r.getAs[Long]("purchase_us") - r.getAs[Long]("view_us"))
    assert(rows.map(_.getAs[Long]("n_users")).sum == lat.length.toLong)
    rows.foreach { r =>
      val band = r.getAs[Long]("band")
      assert(r.getAs[Long]("min_us") >= (if (band == 0) 0L else 1L << band))
      assert(r.getAs[Long]("max_us") <= (1L << (band + 1)) - 1)
    }
  }

  test("supplier HHI: share mass and squared fold match the driver") {
    import spark.implicits._
    val row = graft.operators.Relational.q194SupplierHhi(spark, sf).collect().head
    val cents = graft.sources.Tables.load(spark, sf, "lineitem")
      .groupBy($"l_suppkey")
      .agg(sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 100)
        .cast("long")).as("c"))
      .as[(Long, Long)].collect().map(_._2)
    val tot = cents.sum
    val shares = cents.map(_ * 1000000L / tot)
    assert(row.getAs[Long]("n_suppliers") == cents.length.toLong)
    assert(row.getAs[Long]("share_mass_ppm") == shares.sum)
    assert(row.getAs[Long]("hhi_ppm") == shares.map(s => s * s).sum / 1000000L)
    // flooring loses less than one ppm per supplier
    assert(shares.sum > 1000000L - cents.length && shares.sum <= 1000000L)
  }

  test("json audit: failures equal exactly the planted corruption") {
    import spark.implicits._
    val rows = EventOps.q195JsonAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    val expected = graft.sources.Tables.load(spark, sf, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when($"event_id" % 31 === 0, 1L).otherwise(0L)).as("bad"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("bad"))).toMap
    rows.foreach { r =>
      val (n, bad) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_events") == n)
      assert(r.getAs[Long]("parse_failures") == bad,
        "json failure count diverged from the plant rule")
    }
  }

  test("zipf audit: band masses reconcile to the corpus totals") {
    import spark.implicits._
    val rows = CorpusOps.q196ZipfAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    val words = graft.sources.Tables.load(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("w"))
    assert(rows.map(_.getAs[Long]("band_tokens")).sum == words.count())
    assert(rows.map(_.getAs[Long]("n_types")).sum ==
      words.distinct().count())
    // bands tile the rank space: band b holds ranks with b+1 digits
    rows.foreach { r =>
      val b = r.getAs[Long]("band")
      val maxTypes = 9L * math.pow(10, b).toLong
      assert(r.getAs[Long]("n_types") <= maxTypes)
      // frequencies within a band are non-increasing in rank: max >= min
      assert(r.getAs[Long]("max_freq") >= r.getAs[Long]("min_freq"))
    }
    // Zipf direction: earlier bands carry higher per-type frequency
    val perType = rows.map(r =>
      r.getAs[Long]("band_tokens").toDouble / r.getAs[Long]("n_types"))
    assert(perType.sliding(2).forall { case Array(a, b) => b <= a })
  }

  test("new-vs-returning: first-month split equals the driver replay") {
    import spark.implicits._
    val rows = graft.operators.Relational.q197NewVsReturning(spark, sf).collect()
    assert(rows.nonEmpty)
    val o = graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_custkey",
        date_format($"o_orderdate", "yyyy-MM").as("m"),
        round($"o_totalprice" * 100).cast("long").as("c"))
      .collect().map(r => (r.getAs[Long]("o_custkey"), r.getString(1),
        r.getAs[Long]("c")))
    val firstM = o.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).min }
    rows.foreach { r =>
      val m = r.getAs[String]("month")
      val inMonth = o.filter(_._2 == m)
      val newOnes = inMonth.filter(x => firstM(x._1) == m)
      assert(r.getAs[Long]("n_orders") == inMonth.length.toLong)
      assert(r.getAs[Long]("new_orders") == newOnes.length.toLong)
      assert(r.getAs[Long]("new_revenue_cents") == newOnes.map(_._3).sum)
    }
    // every ordering customer contributes at least one first-month order
    assert(rows.map(_.getAs[Long]("new_orders")).sum >= firstM.size.toLong)
  }

  test("centroid drift: quantized sums equal the driver fold per label") {
    import spark.implicits._
    val rows = graft.ops.SimilarityOps.q198CentroidDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"label".cast("long").as("l"), $"embedding")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("l"),
        r.getSeq[Float](2).map(x => math.round(x.toDouble * 1000))))
    rows.foreach { r =>
      val label = r.getAs[Long]("label")
      val xs = e.filter(_._2 == label)
      val ha = xs.filter(_._1 % 2 == 0); val hb = xs.filter(_._1 % 2 == 1)
      val na = ha.length.toLong; val nb = hb.length.toLong
      val drift = (0 until 64).map { d =>
        val sa = ha.map(_._3(d)).sum; val sb = hb.map(_._3(d)).sum
        math.abs(sa * nb - sb * na)
      }.sum
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
      assert(r.getAs[Long]("drift_mass") == drift,
        s"label $label: quantized drift diverged")
    }
  }

  test("order fanout: bands tile and masses reconcile to lineitem") {
    import spark.implicits._
    val rows = graft.operators.Relational.q199OrderFanout(spark, sf).collect()
    assert(rows.nonEmpty)
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    assert(rows.map(_.getAs[Long]("sum_lines")).sum == li.count())
    assert(rows.map(_.getAs[Long]("n_orders")).sum ==
      li.select($"l_orderkey").distinct().count())
    rows.foreach { r =>
      val b = r.getAs[Long]("band")
      assert(r.getAs[Long]("min_lines") >= (1L << b))
      assert(r.getAs[Long]("max_lines") <= (1L << (b + 1)) - 1)
    }
  }

  test("scorecard metrics reconcile with the operators that own them") {
    val m = CorpusOps.q200Scorecard(spark, sf).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    // q154's funnel owns docs/dups/tokens
    val funnel = CorpusOps.q154CurationFunnel(spark, sf).collect()
      .map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(m("n_docs") == funnel(0L))
    assert(m("n_docs") - m("exact_dup_docs") == funnel(1L))
    // q161 owns the deletion-request rule
    val forget = graft.ops.PipelineOps.q161ForgetAudit(spark, sf).collect()
      .map(_.getAs[Long]("deleted_docs")).sum
    assert(m("deletion_requests") == forget)
    // q159 owns the blocklist rule
    val blocked = graft.ops.TextOps.q159BlocklistFilter(spark, sf).collect()
      .map(_.getAs[Long]("blocked_docs")).sum
    assert(m("blocklisted_docs") == blocked)
    assert(m("eval_band_docs") > 0L && m("eval_band_docs") < m("n_docs"))
  }

  test("lang purity: per-source agreement equals the q31 classifier replay") {
    import spark.implicits._
    val rows = graft.ops.TextOps.q201LangPurity(spark, sf).collect()
    assert(rows.nonEmpty)
    val expected = graft.ops.TextOps.q31LangQuality(spark, sf)
      .join(graft.sources.Tables.load(spark, sf, "documents")
        .select($"doc_id", $"source".as("src2")), Seq("doc_id"))
      .groupBy($"src2")
      .agg(count(lit(1)).as("n"),
        sum(when($"pred_lang" === $"lang", 1L).otherwise(0L)).as("agree"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("agree"))).toMap
    rows.foreach { r =>
      val (n, agree) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_agree") == agree)
      assert(r.getAs[Long]("purity_ppm") == agree * 1000000L / n)
    }
  }

  test("weekday seasonality: shares sum to ~1e6 and days are ISO") {
    val rows = EventOps.q202WeekdaySeasonality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Long]("iso_dow")
      assert(d >= 1L && d <= 7L)
    }
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val s = rs.map(_.getAs[Long]("share_ppm")).sum
      assert(s <= 1000000L && s > 1000000L - rs.length)
      val tot = rs.map(_.getAs[Long]("n_events")).sum
      rs.foreach(r => assert(r.getAs[Long]("share_ppm") ==
        r.getAs[Long]("n_events") * 1000000L / tot))
    }
  }

  test("source terms: lift replay on the driver for every reported term") {
    import spark.implicits._
    val rows = CorpusOps.q203SourceTerms(spark, sf).collect()
    assert(rows.nonEmpty)
    val toks = graft.sources.Tables.load(spark, sf, "documents")
      .select($"source", explode(split($"text", " ")).as("w"))
      .as[(String, String)].collect()
    val grand = toks.length.toLong
    val bySrcW = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byW = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val bySrc = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val (src, w) = (r.getAs[String]("source"), r.getAs[String]("w"))
      val cnt = bySrcW((src, w))
      assert(r.getAs[Long]("cnt") == cnt && cnt >= 20L)
      assert(r.getAs[Long]("lift_ppm") ==
        cnt * grand * 1000000L / (byW(w) * bySrc(src)))
    }
    // ordering: rk 1..5 per source, lift non-increasing
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length))
      val lifts = sorted.map(_.getAs[Long]("lift_ppm")).toSeq
      assert(lifts.sliding(2).forall(p => p.length < 2 || p(1) <= p(0)))
    }
  }

  test("dup-by-length bands reconcile with the scorecard dup total") {
    val rows = CorpusOps.q204DupByLength(spark, sf).collect()
    assert(rows.nonEmpty)
    val m = CorpusOps.q200Scorecard(spark, sf).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    assert(rows.map(_.getAs[Long]("n_docs")).sum == m("n_docs"))
    assert(rows.map(_.getAs[Long]("dup_docs")).sum == m("exact_dup_docs"))
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_docs") <= r.getAs[Long]("n_docs"))
      val band = r.getAs[Long]("band")
      assert(band >= 0L && band <= 19L)
    }
  }

  test("word lengths: histogram mass equals the corpus token count") {
    import spark.implicits._
    val rows = CorpusOps.q205WordLengths(spark, sf).collect()
    assert(rows.nonEmpty)
    val toks = graft.sources.Tables.load(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("w")).as[String].collect()
    assert(rows.map(_.getAs[Long]("n_words")).sum == toks.length.toLong)
    val byLen = toks.groupBy(_.length.toLong).view.mapValues(_.length.toLong)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_words") == byLen(r.getAs[Long]("len")))
    }
    val ppm = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(ppm <= 1000000L && ppm > 1000000L - rows.length)
  }

  test("status mix: per-month shares sum to ~1e6 and counts replay") {
    import spark.implicits._
    val rows = graft.operators.Relational.q206StatusMix(spark, sf).collect()
    assert(rows.nonEmpty)
    val o = graft.sources.Tables.load(spark, sf, "orders")
      .select(date_format($"o_orderdate", "yyyy-MM").as("m"), $"o_orderstatus")
      .as[(String, String)].collect()
    rows.groupBy(_.getAs[String]("month")).foreach { case (m, rs) =>
      val tot = o.count(_._1 == m).toLong
      assert(rs.map(_.getAs[Long]("n_orders")).sum == tot)
      val s = rs.map(_.getAs[Long]("share_ppm")).sum
      assert(s <= 1000000L && s > 1000000L - rs.length)
    }
  }

  test("key completeness: one row per table, counts match direct scans") {
    val rows = graft.operators.SchemaOps.q207KeyCompleteness(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val n = graft.sources.Tables.load(spark, sf,
        r.getAs[String]("table_name")).count()
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("null_keys") >= 0L &&
        r.getAs[Long]("null_keys") <= n)
    }
  }

  // ------------------------------------------------------------- X176

  test("late orders: semi-join counts equal the grouped-exists replay") {
    import spark.implicits._
    val rows = graft.operators.Relational.q208LateOrders(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent plan: per-order max(late-line flag) then count
    val o = graft.sources.Tables.load(spark, sf, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val replay = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy($"o_orderkey", $"o_orderpriority")
      .agg(max(when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"), 1)
        .otherwise(0)).as("late"))
      .filter($"late" === 1)
      .groupBy($"o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_late_orders") ==
        replay(r.getAs[String]("o_orderpriority")))
    }
  }

  // ------------------------------------------------------------- X177

  test("disjunctive revenue: branch sums reconcile (brands are disjoint)") {
    import spark.implicits._
    val total = graft.operators.Relational.q209DisjunctiveRevenue(spark, sf)
      .collect()(0)
    // the three branches are brand-disjoint, so per-brand replays must sum
    // to the single-pass result
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val p = graft.sources.Tables.load(spark, sf, "part")
    val branches = Seq(
      ("Brand#4", 1, 15, 1, 20), ("Brand#19", 10, 30, 10, 30),
      ("Brand#8", 20, 50, 20, 50))
    val parts = branches.map { case (brand, s0, s1, q0, q1) =>
      li.join(p, $"l_partkey" === $"p_partkey")
        .filter($"p_brand" === brand && $"p_size".between(s0, s1) &&
          $"l_quantity".between(q0, q1))
        .agg(count(lit(1)).cast("long"),
          coalesce(sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 100)
            .cast("long")), lit(0L)))
        .as[(Long, Long)].collect()(0)
    }
    assert(total.getAs[Long]("n_lines") == parts.map(_._1).sum)
    assert(total.getAs[Long]("revenue_cents") == parts.map(_._2).sum)
  }

  // ------------------------------------------------------------- X178

  test("dormant balance: every member is above-average and order-free since cut") {
    import spark.implicits._
    val rows = graft.operators.Relational.q210DormantBalance(spark, sf).collect()
    val c = graft.sources.Tables.load(spark, sf, "customer")
      .select($"c_custkey", $"c_nationkey".cast("long"),
        round($"c_acctbal" * 100).cast("long"))
      .as[(Long, Long, Long)].collect()
    val pos = c.map(_._3).filter(_ > 0)
    val (posSum, posN) = (pos.sum, pos.length.toLong)
    val recent = graft.sources.Tables.load(spark, sf, "orders")
      .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
      .select($"o_custkey").as[Long].collect().toSet
    val expect = c.filter(x => x._3 * posN > posSum && !recent(x._1))
      .groupBy(_._2).view.mapValues(g => (g.length.toLong, g.map(_._3).sum)).toMap
    assert(rows.map(_.getAs[Long]("n_custs")).sum == expect.values.map(_._1).sum)
    rows.foreach { r =>
      val e = expect(r.getAs[Long]("nationkey"))
      assert(r.getAs[Long]("n_custs") == e._1)
      assert(r.getAs[Long]("bal_sum_cents") == e._2)
    }
  }

  // ------------------------------------------------------------- X179

  test("ship-delay mix: bands tile the joined line count, bounds respected") {
    val rows = graft.operators.Relational.q211ShipDelayMix(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(r => r.getAs[Long]("critical_lines") +
      r.getAs[Long]("other_lines")).sum
    // every lineitem has its order (RI holds), so bands tile the lineitem count
    assert(total == graft.sources.Tables.load(spark, sf, "lineitem").count())
    val bounds = Map("0_early" -> (Long.MinValue, -1L),
      "1_within_30d" -> (0L, 30L), "2_within_90d" -> (31L, 90L),
      "3_over_90d" -> (91L, Long.MaxValue))
    rows.foreach { r =>
      val (lo, hi) = bounds(r.getAs[String]("band"))
      assert(r.getAs[Long]("min_delay") >= lo)
      assert(r.getAs[Long]("max_delay") <= hi)
    }
  }

  // ------------------------------------------------------------- X180

  test("dim variance: quantized sums replay exactly on the driver") {
    import spark.implicits._
    val rows = graft.ops.SimilarityOps.q212DimVariance(spark, sf).collect()
    assert(rows.length == 64)
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .select($"embedding").as[Seq[Float]].collect()
    val byDim = rows.map(r => r.getAs[Long]("dim") -> r).toMap
    for (d <- 1 to 64) {
      val ms = vecs.map(v => math.round(v(d - 1).toDouble * 1000))
      val r = byDim(d.toLong)
      assert(r.getAs[Long]("n_vecs") == vecs.length.toLong)
      assert(r.getAs[Long]("sum_millis") == ms.sum)
      assert(r.getAs[Long]("ss_millis") == ms.map(m => m * m).sum)
      val varNum = vecs.length.toLong * ms.map(m => m * m).sum - ms.sum * ms.sum
      // the DECIMAL(38,0) numerator is emitted as integer-exact BIGINTs:
      // hi = num div 1e18, lo = num mod 1e18 (num ≥ 0, so truncating and
      // floor division agree across engines)
      val tenE18 = 1000000000000000000L
      assert(r.getAs[Long]("var_hi") == varNum / tenE18)
      assert(r.getAs[Long]("var_lo") == varNum % tenE18)
      assert(varNum >= 0L) // n·Σx² ≥ (Σx)² by Cauchy-Schwarz
    }
  }

  // ------------------------------------------------------------- X181

  test("minhash agreement: verdict algebra holds and is deterministic") {
    val r = graft.ops.DedupOps.q213MinhashAgreement(spark, sf).collect()(0)
    val (nt, nc, nh) = (r.getAs[Long]("n_truth"), r.getAs[Long]("n_cand"),
      r.getAs[Long]("n_hit"))
    assert(r.getAs[Long]("n_sample_docs") > 0)
    assert(nh <= math.min(nt, nc))
    val (p, rec) = (r.getAs[Long]("precision_ppm"), r.getAs[Long]("recall_ppm"))
    assert(p >= 0L && p <= 1000000L && rec >= 0L && rec <= 1000000L)
    if (nc > 0) assert(p == nh * 1000000L / nc)
    if (nt > 0) assert(rec == nh * 1000000L / nt)
    val r2 = graft.ops.DedupOps.q213MinhashAgreement(spark, sf).collect()(0)
    assert(r.toSeq == r2.toSeq) // replayable: no RNG anywhere in the audit
  }

  // ------------------------------------------------------------- X182

  test("norm dedup delta: planted formatting twins caught exactly, and only by norm") {
    val rows = graft.ops.CorpusOps.q214NormDedupDelta(spark, sf).collect()
    assert(rows.nonEmpty)
    var planted = 0L
    rows.foreach { r =>
      // byte-exact dedup must MISS every planted twin (uppercase + double
      // spaces changes the bytes), normalized dedup must catch exactly them
      assert(r.getAs[Long]("exact_dup_docs") == 0L)
      assert(r.getAs[Long]("extra_norm_dups") == r.getAs[Long]("n_planted"))
      planted += r.getAs[Long]("n_planted")
    }
    val expected = graft.sources.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 25 === 0).count()
    assert(planted == expected)
  }

  // ------------------------------------------------------------- X183

  test("window frames: every pick replays against the raw per-user timeline") {
    import spark.implicits._
    val rows = graft.ops.EventOps.q215WindowFrames(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent ground truth straight from the source table
    val raw = graft.sources.Tables.load(spark, sf, "events")
      .select($"user_id", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("us"),
        $"event_type", round($"value" * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, String, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(e => (e._3, e._2))).toMap
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (uid, rs) =>
      val tl = raw(uid)
      val sorted = rs.sortBy(r => (r.getAs[Long]("us"), r.getAs[Long]("event_id")))
      assert(sorted.length == tl.length)
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("first_us") == tl.head._3)
        assert(r.getAs[String]("last_type") == tl.last._4)
        val expectedThird = if (tl.length >= 3) tl(2)._4 else null
        assert(r.getAs[String]("third_type") == expectedThird)
        val trail = tl.slice(math.max(0, i - 2), i + 1).map(_._5).sum
        assert(r.getAs[Long]("trail3_cents") == trail)
      }
    }
  }

  // ------------------------------------------------------------- X184

  test("spend decile shift: matrix mass reconciles, deciles near-balanced") {
    val rows = graft.ops.PipelineOps.q216SpendDecileShift(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalCusts = rows.map(_.getAs[Long]("n_custs")).sum
    val activeCusts = graft.sources.Tables.load(spark, sf, "orders")
      .select(col("o_custkey")).distinct().count()
    assert(totalCusts == activeCusts)
    // each half's decile histogram: every non-absent decile within ±1 of n/10
    for (side <- Seq("early_decile", "late_decile")) {
      val hist = rows.groupBy(_.getAs[Long](side)).view
        .mapValues(_.map(_.getAs[Long]("n_custs")).sum)
      val present = hist.filterKeys(_ > 0L).values
      if (present.nonEmpty) {
        val n = present.sum
        present.foreach(c => assert(math.abs(c - n / 10) <= n / 10 / 5 + 2))
      }
    }
  }

  // ------------------------------------------------------------- X185

  test("label margin: distances replay exactly on the driver") {
    import spark.implicits._
    val rows = graft.ops.SimilarityOps.q217LabelMargin(spark, sf).collect()
    assert(rows.nonEmpty)
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"label".cast("long"), $"embedding")
      .as[(Long, Long, Seq[Float])].collect()
      .map { case (id, l, v) => (id, l, v.map(x => math.round(x.toDouble * 1000)).toArray) }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    rows.foreach { r =>
      val qId = r.getAs[Long]("q_id")
      val (_, qLabel, qv) = vecs.find(_._1 == qId).get
      val others = vecs.filter(_._1 != qId)
      val same = others.filter(_._2 == qLabel).map(v => d2(qv, v._3)).min
      val other = others.filter(_._2 != qLabel).map(v => d2(qv, v._3)).min
      assert(r.getAs[Long]("min_same_d2") == same)
      assert(r.getAs[Long]("min_other_d2") == other)
      assert(r.getAs[Long]("margin") == other - same)
    }
  }

  // ------------------------------------------------------------- X186-X189

  test("shipping priority: top-10 descending, membership and revenue replay") {
    import spark.implicits._
    val rows = graft.operators.Relational.q218ShippingPriority(spark, sf).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Long]("revenue_cents"))
    assert(revs.sameElements(revs.sortBy(-_)))
    val building = graft.sources.Tables.load(spark, sf, "customer")
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      .as[Long].collect().toSet
    val orders = graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate".cast("string"))
      .as[(Long, Long, String)].collect().map(o => o._1 -> o).toMap
    rows.foreach { r =>
      val o = orders(r.getAs[Long]("o_orderkey"))
      assert(building(o._2))
      assert(o._3 < "1998-07-01")
    }
  }

  test("revenue forecast: the scan-side fold replays on the driver") {
    import spark.implicits._
    val r = graft.operators.Relational.q219RevenueForecast(spark, sf).collect()(0)
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_shipdate".cast("string"), $"l_discount", $"l_quantity",
        round($"l_extendedprice" * $"l_discount" * 100).cast("long"))
      .as[(String, Double, Double, Long)].collect()
      .filter(x => x._1 >= "1997-01-01" && x._1 < "1998-01-01" &&
        x._2 >= 0.05 && x._2 <= 0.07 && x._3 < 24)
    assert(r.getAs[Long]("n_lines") == li.length.toLong)
    assert(r.getAs[Long]("forecast_cents") == li.map(_._4).sum)
  }

  test("promotion suppliers: exactly the red-part over-threshold shippers") {
    import spark.implicits._
    val rows = graft.operators.Relational.q220PromotionSuppliers(spark, sf)
      .collect().map(_.getAs[Long]("s_suppkey")).toSet
    val red = graft.sources.Tables.load(spark, sf, "part")
      .filter($"p_name".startsWith("red ")).select($"p_partkey")
      .as[Long].collect().toSet
    val expected = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_suppkey", $"l_partkey", round($"l_quantity").cast("long"))
      .as[(Long, Long, Long)].collect()
      .filter(x => red(x._2))
      .groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).sum)
      .filter(_._2 > 100L).keys.map(_._1).toSet
    assert(rows == expected)
  }

  test("blame supplier: the late-on-servable-order rule replays") {
    import spark.implicits._
    val rows = graft.operators.Relational.q221BlameSupplier(spark, sf).collect()
    val od = graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_orderdate".cast("date").cast("string"))
      .as[(Long, String)].collect().toMap
    val j = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate".cast("date").cast("string"))
      .as[(Long, Long, String)].collect()
      .map { case (ok, sk, ship) =>
        val days = java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse(od(ok)), java.time.LocalDate.parse(ship))
        (ok, sk, days)
      }
    val late = j.filter(_._3 > 365).map(x => (x._1, x._2)).distinct
    val onTimeByOrder = j.filter(_._3 <= 90).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val blamed = late.filter { case (ok, sk) =>
      onTimeByOrder.get(ok).exists(s => (s - sk).nonEmpty) }
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      assert(blamed(r.getAs[Long]("s_suppkey")) ==
        r.getAs[Long]("n_blamed_orders"))
    }
    // top-20 really is the top: no unreported supplier beats the reported min
    if (rows.nonEmpty && blamed.size > rows.length) {
      val reported = rows.map(_.getAs[Long]("s_suppkey")).toSet
      val minReported = rows.map(_.getAs[Long]("n_blamed_orders")).min
      blamed.filterNot(kv => reported(kv._1)).values
        .foreach(v => assert(v <= minReported))
    }
  }

  test("min-cost supplier: per-part argmin replays over the lineitem fold") {
    import spark.implicits._
    val rows = graft.operators.Relational.q240MinCostSupplier(spark, sf)
      .collect().map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("s_name"), r.getAs[Long]("cost_milli_cents"))).toMap
    // driver replay: unit cost = cents(extprice)*1000 div qty, min per
    // (part, supplier); argmin restricted to EUROPE suppliers, big parts
    val europe = graft.sources.Tables.load(spark, sf, "supplier")
      .join(graft.sources.Tables.load(spark, sf, "nation"),
        $"s_nationkey" === $"n_nationkey")
      .join(graft.sources.Tables.load(spark, sf, "region")
        .filter($"r_name" === "EUROPE"), $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name").as[(Long, String)].collect().toMap
    val bigParts = graft.sources.Tables.load(spark, sf, "part")
      .filter($"p_size" >= 40).select($"p_partkey").as[Long].collect().toSet
    val cost = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_partkey", $"l_suppkey",
        expr("(cast(round(l_extendedprice * 100) as bigint) * 1000) div cast(round(l_quantity) as bigint)"))
      .as[(Long, Long, Long)].collect()
      .filter(x => bigParts(x._1) && europe.contains(x._2))
      .groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).min).toSeq
    val best = cost.groupBy(_._1._1).view.mapValues { cands =>
      val (k, c) = cands.minBy { case ((_, sk), mc) => (mc, sk) }
      (europe(k._2), c)
    }.toMap
    // the operator LIMITs to 100; every reported row must equal the replay
    assert(rows.nonEmpty)
    rows.foreach { case (pk, v) => assert(best(pk) == v, s"part $pk") }
  }

  test("important stock: threshold keeps exactly the >1/10000 parts") {
    import spark.implicits._
    // NATION_7 has no suppliers at sf0.001 — replay at sf0.01 where the
    // fold is populated (and the bounded-result guarantee is exercised)
    val sf1 = "/root/testdata/sf0.01"
    val rows = graft.operators.Relational.q241ImportantStock(spark, sf1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sup7 = graft.sources.Tables.load(spark, sf1, "supplier")
      .join(graft.sources.Tables.load(spark, sf1, "nation")
        .filter($"n_name" === "NATION_7"), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey").as[Long].collect().toSet
    val byPart = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select($"l_partkey", $"l_suppkey",
        round($"l_extendedprice" * (lit(1) - $"l_discount") * 100).cast("long"))
      .as[(Long, Long, Long)].collect()
      .filter(x => sup7(x._2))
      .groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val total = byPart.values.sum
    val expected = byPart.filter(_._2 > total / 10000L)
    assert(rows == expected)
    assert(rows.nonEmpty && rows.size < 10000, s"bound violated: ${rows.size}")
  }

  test("parts/supplier relationship: distinct counts exclude flagged suppliers") {
    import spark.implicits._
    val sf1 = "/root/testdata/sf0.01" // has 6 negative-balance suppliers
    val rows = graft.operators.Relational.q242PartsSupplierRel(spark, sf1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        r.getAs[Long]("supplier_cnt")).toMap
    val bad = graft.sources.Tables.load(spark, sf1, "supplier")
      .filter($"s_acctbal" < 0).select($"s_suppkey").as[Long].collect().toSet
    assert(bad.nonEmpty, "exclusion set empty — test would be vacuous")
    val attrs = graft.sources.Tables.load(spark, sf1, "part")
      .filter($"p_brand" =!= "Brand#45" && $"p_size" <= 25)
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
      .as[(Long, String, String, Int)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    val expected = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select($"l_partkey", $"l_suppkey").as[(Long, Long)].collect().distinct
      .filter(x => !bad(x._2) && attrs.contains(x._1))
      .groupBy(x => attrs(x._1)).view
      .mapValues(_.map(_._2).distinct.length.toLong).toMap
    assert(rows == expected)
  }

  test("q306 MMR: greedy replay exact; diversification departs from pure relevance") {
    val got = graft.ops.SimilarityOps.q306MmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(got.size == 5)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("CAST(vec_id AS BIGINT)",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qv = vecs.find(_._1 == 0L).get._2
    val cands = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, v, d2(qv, v)) }
      .sortBy(c => (c._3, c._1)).take(8)
    var sel = Seq(cands.head)
    var expect = Seq((1L, sel.head._1, sel.head._3, -1L, -500L * sel.head._3))
    while (sel.size < 5) {
      val rem = cands.filterNot(c => sel.exists(_._1 == c._1))
      val best = rem.map { c =>
        val ms = sel.map(x => d2(c._2, x._2)).min
        (c, ms, -500L * c._3 + 500L * ms)
      }.maxBy { case (c, _, sc) => (sc, -c._1) }
      sel = sel :+ best._1
      expect = expect :+ ((sel.size.toLong, best._1._1, best._1._3,
        best._2, best._3))
    }
    assert(got == expect)
    // MMR genuinely diversifies: its order differs from pure relevance,
    // and every non-seed pick sits strictly apart from the selected set
    val relevance5 = cands.take(5).map(_._1).toSeq
    assert(got.map(_._2) != relevance5)
    got.drop(1).foreach { r => assert(r._4 > 0L, s"rank ${r._1}") }
  }

  test("q305 hybrid RRF: replay exact; the fusion differs from both legs") {
    import spark.implicits._
    val got = graft.ops.SimilarityOps.q305HybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(got.size == 10)
    // lexical replay (q146's integer BM25 surrogate)
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) =>
        (id, Option(t).getOrElse("").split(" ", -1)) }
    val terms = Seq("spark", "merge", "hash")
    val n = docs.length.toLong
    val dfs = terms.map(t => docs.count(_._2.contains(t)).toLong)
    val lex = docs.filter(_._1 != 0L).map { case (id, ws) =>
      val score = terms.zipWithIndex.map { case (t, i) =>
        val tf = ws.count(_ == t).toLong
        if (tf > 0) (n * 1000000L / (dfs(i) + 1)) * (tf * 2000000L / (tf + 1)) / 1000000L
        else 0L
      }.sum
      (id, score)
    }.sortBy(p => (-p._2, p._1)).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // vector replay
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("CAST(vec_id AS BIGINT)",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val qv = vecs.find(_._1 == 0L).get._2
    val vec = vecs.filter(_._1 != 0L).map { case (id, v) =>
      (id, v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy(p => (p._2, p._1)).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val fused = lex.keys.map { id =>
      (id, lex(id), vec(id),
        1000000L / (60 + lex(id)) + 1000000L / (60 + vec(id)))
    }.toSeq.sortBy(p => (-p._4, p._1)).take(10)
    assert(got == fused.zipWithIndex.map { case ((id, rl, rv, f), i) =>
      (i + 1L, id, rl, rv, f) }.toSeq)
    // the fusion's point: its top-10 is NEITHER leg's top-10
    val fusedSet = got.map(_._2).toSet
    val lexTop = lex.toSeq.sortBy(_._2).take(10).map(_._1).toSet
    val vecTop = vec.toSeq.sortBy(_._2).take(10).map(_._1).toSet
    assert(fusedSet != lexTop && fusedSet != vecTop)
  }

  test("q304 filtered ANN: replay exact; survivors are a prefix of the true list") {
    val got = graft.ops.SimilarityOps.q304FilteredAnn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.size == 10)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("CAST(vec_id AS BIGINT)", "CAST(label AS BIGINT)",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val corpus = vecs.filter(_._1 >= 10)
    vecs.filter(_._1 < 10).foreach { case (qid, qlab, qv) =>
      val ranked = corpus.map { case (id, lab, v) => (d2(qv, v), id, lab) }
        .sortBy(p => (p._1, p._2))
      val top10 = ranked.take(10)
      val survivors = top10.filter(_._3 == qlab).map(_._2).toSeq
      val exact3 = ranked.filter(_._3 == qlab).take(3).map(_._2).toSeq
      // prefix property: post-filter survivors ARE the head of the true list
      assert(survivors.take(3) == exact3.take(survivors.size.min(3)), s"q $qid")
      val hits = math.min(3L, survivors.size.toLong)
      assert(got(qid) == ((qlab, survivors.size.toLong, hits,
        hits * 1000000L / 3L)), s"q $qid")
    }
    // the measurement is non-vacuous: post-filtering both starves (< 3)
    // and saturates (= 3) across this query batch
    assert(got.values.exists(_._3 < 3L) && got.values.exists(_._3 == 3L))
  }

  test("q289 k-center: pure-Scala greedy replay; radii certify the selection") {
    val got = graft.ops.SimilarityOps.q289KCenter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // pure-Scala replay of the Gonzalez greedy on the quantized vectors
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("CAST(vec_id AS BIGINT) AS id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var chosen = Seq(vecs.keys.min)
    var expect = Seq((1L, chosen.head, -1L))
    while (chosen.size < 8) {
      val (id, d) = vecs.view.mapValues(v => chosen.map(c => d2(vecs(c), v)).min)
        .toSeq.maxBy { case (id, d) => (d, -id) }
      chosen = chosen :+ id
      expect = expect :+ ((chosen.size.toLong, id, d))
    }
    val cover = vecs.values.map(v => chosen.map(c => d2(vecs(c), v)).min).max
    assert(got == expect :+ ((9L, -1L, cover)))
    // certificate: the closed radii are non-increasing and the residual
    // coverage never exceeds the last closed radius (Gonzalez's 2-approx
    // argument rests on exactly this chain)
    val radii = got.drop(1).map(_._3)
    radii.sliding(2).foreach { case Seq(a, b) => assert(b <= a); case _ => }
    // chosen centers are pairwise at least the residual apart
    chosen.combinations(2).foreach { case Seq(a, b) =>
      assert(d2(vecs(a), vecs(b)) >= cover)
    }
  }
}
