package graft

import org.apache.spark.sql.functions.{count, explode, expr, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.Fingerprint
import graft.ops.{DedupOps, MultimodalOps, SimilarityOps, TextOps}

class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession("ops-spec", 4)

  override def afterAll(): Unit = spark.stop()

  /** Scala reference implementation of the rolling hash. */
  private def refHash(s: String): Long =
    s.getBytes("UTF-8").foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)

  test("fingerprint expression matches reference impl through codegen path") {
    import spark.implicits._
    Fingerprint.register(spark)
    val inputs = Seq("", "a", "ab", "the quick brown fox", "spark join merge", "%$#!\n\t")
    val got = inputs.toDF("s")
      .selectExpr("s", "graft_fingerprint(s) AS fp")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach(s => assert(got(s) == refHash(s), s"mismatch for '$s'"))
  }

  test("fingerprint_seeded: continuing the fold from a prefix hash == hashing the concat") {
    import spark.implicits._
    Fingerprint.register(spark)
    val pairs = Seq(("", "x"), ("amsj:42:1764:", "7"), ("abc", ""),
      ("the quick ", "brown fox"), ("π≈", "3.14159"), ("amsj:9:81:", "31"))
    pairs.toDF("a", "b")
      .selectExpr("graft_fingerprint_seeded(graft_fingerprint(a), b) AS seeded",
        "graft_fingerprint(concat(a, b)) AS whole")
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("fingerprint works inside higher-order function lambdas") {
    import spark.implicits._
    Fingerprint.register(spark)
    val row = Seq((Seq("ab", "cd"))).toDF("arr")
      .selectExpr("transform(arr, x -> graft_fingerprint(x)) AS h")
      .collect().head.getSeq[Long](0)
    assert(row == Seq(refHash("ab"), refHash("cd")))
  }

  test("q252: non-ASCII fingerprints match a pure-Scala UTF-8 byte replay") {
    import spark.implicits._
    // driver replay: rebuild every planted row (text + Utf8Plant suffix)
    // from the parquet source and re-derive chars/bytes/fp independently —
    // codepoint counts via codePointCount, bytes+hash via UTF-8 encoding.
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val got = TextOps.q252Utf8Fingerprint(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(got.length == texts.size)
    // the sf0.001 ids must exercise every plant class, incl. all non-ASCII
    assert(texts.keys.map(id => (id % 8 + 8) % 8).toSet.size == 8)
    got.foreach { case (id, (nChars, nBytes, fp)) =>
      val t2 = texts(id) + TextOps.Utf8Plant(((id % 8) + 8).toInt % 8) + " fin"
      assert(nChars == t2.codePointCount(0, t2.length).toLong, s"chars doc $id")
      assert(nBytes == t2.getBytes("UTF-8").length.toLong, s"bytes doc $id")
      assert(fp == refHash(t2), s"fp doc $id")
      assert(fp == Fingerprint.hashString(t2), s"hashString doc $id")
    }
    // and the plant really is non-ASCII for 7 of the 8 classes
    assert(TextOps.Utf8Plant.count(s => s.getBytes("UTF-8").length > s.length) == 7)
  }

  test("suffix kernels match their interpreted HOF formulations (incl. non-ASCII)") {
    import spark.implicits._
    graft.functions.SuffixText.register(spark)
    Fingerprint.register(spark)
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away home",
      "short", "", "exactly twenty-four!!", "a" * 60,
      "café naïve 中文文本 words 🙂 emoji tail padded out to length",
      "x" * 23 + "y" * 23)
    // anchor positions: kernel vs the per-position fingerprint filter
    val hof =
      """filter(sequence(1, greatest(length(t) - 23, 1)),
        |  p -> p <= length(t) - 23
        |       AND graft_fingerprint(substring(t, CAST(p AS INT), 8)) % 4 = 0)""".stripMargin
    texts.toDF("t")
      .selectExpr("t", s"graft_anchor_positions(t, 8, 4, 24) AS fast", s"$hof AS slow")
      .collect().foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"anchors for '${r.getString(0).take(30)}'")
      }
    // lcp: kernel vs per-codepoint comparison scan
    val pairs = Seq(
      ("abcdef", "abcxyz"), ("same", "same"), ("", "abc"), ("abc", ""),
      ("café latte", "café mocha"), ("中文AB", "中XAB"),
      ("🙂🚀", "🙂👩"), ("ab", "abcd"))
    val lcpHof =
      """element_at(transform(array(
        |    array_position(transform(sequence(1, greatest(least(length(a), length(b)), 1)),
        |      i -> i <= least(length(a), length(b))
        |           AND substring(a, i, 1) = substring(b, i, 1)), false)),
        |  pos -> CASE WHEN least(length(a), length(b)) = 0 THEN 0L
        |              WHEN pos = 0 THEN CAST(least(length(a), length(b)) AS BIGINT)
        |              ELSE pos - 1 END), 1)""".stripMargin
    pairs.toDF("a", "b")
      .selectExpr("a", "graft_lcp(a, b) AS fast", s"$lcpHof AS slow")
      .collect().foreach { r =>
        assert(r.getLong(1) == r.getLong(2), s"lcp for '${r.getString(0)}'")
      }
  }

  test("q372: byte-BPE fallback rate — q366 cross-pin, plant classes, consistency") {
    val r372 = TextOps.q372ByteFallback(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val r366 = TextOps.q366ByteBpe(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // same trained tokenizer: every shared group's word/byte/token
    // counts are identical across the two audits
    assert(r372.keySet == r366.keySet)
    r372.foreach { case (g, r) =>
      val o = r366(g)
      assert(r.getAs[Long]("n_words") == o.getAs[Long]("n_words"), g)
      assert(r.getAs[Long]("n_bytes") == o.getAs[Long]("n_bytes"), g)
      assert(r.getAs[Long]("n_tokens") == o.getAs[Long]("n_tokens"), g)
      // internal consistency: fallback is a sub-count of tokens and the
      // ppm columns are the exact integer divisions
      val fb = r.getAs[Long]("n_fallback"); val nt = r.getAs[Long]("n_tokens")
      assert(fb >= 0L && fb <= nt, g)
      assert(r.getAs[Long]("fallback_ppm") == fb * 1000000L / nt, g)
      assert(r.getAs[Long]("bytes_per_token_ppm") ==
        r.getAs[Long]("n_bytes") * 1000000L / nt, g)
    }
    // plant classes (q366's behaviors re-read through the fallback lens):
    // the Katakana word is ALL fallback — every byte >= 0x80 and every
    // learned merge pairs ASCII bytes; 'printer' rides merges below 100%
    val kat = r372("word:3")
    assert(kat.getAs[Long]("fallback_ppm") == 1000000L)
    assert(kat.getAs[Long]("n_fallback") == kat.getAs[Long]("n_bytes"))
    assert(r372("word:1").getAs[Long]("fallback_ppm") < 1000000L)
    // every corpus language carries a real fallback share (the 30-merge
    // vocabulary leaves most of the byte stream unmerged — the dial)
    r372.filter(_._1.startsWith("lang:")).values.foreach { r =>
      assert(r.getAs[Long]("fallback_ppm") > 0L &&
        r.getAs[Long]("fallback_ppm") < 1000000L)
    }
  }

  test("q376: merge-budget dial — monotone, prefix-stable, q372 cross-pin") {
    import spark.implicits._
    val rows = TextOps.q376MergeBudget(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val budgets = TextOps.MergeBudgets.map(_.toLong)
    // (a) the dial turns monotonically on the corpus: more merges never
    // add tokens and never raise the fallback share
    budgets.sliding(2).foreach { case Seq(b1, b2) =>
      assert(rows((b1, "corpus")).getAs[Long]("n_tokens") >
        rows((b2, "corpus")).getAs[Long]("n_tokens"), s"$b1->$b2")
      assert(rows((b1, "corpus")).getAs[Long]("fallback_ppm") >=
        rows((b2, "corpus")).getAs[Long]("fallback_ppm"), s"$b1->$b2")
    }
    // (b) the full-budget row IS the q372 tokenizer: corpus totals equal
    // q372's per-language rows summed, plant rows equal exactly
    val q372 = TextOps.q372ByteFallback(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val langs = q372.filter(_._1.startsWith("lang:")).values
    val c30 = rows((budgets.max, "corpus"))
    assert(c30.getAs[Long]("n_tokens") ==
      langs.map(_.getAs[Long]("n_tokens")).sum)
    assert(c30.getAs[Long]("n_fallback") ==
      langs.map(_.getAs[Long]("n_fallback")).sum)
    assert(c30.getAs[Long]("n_words") ==
      langs.map(_.getAs[Long]("n_words")).sum)
    TextOps.Q366Plant.foreach { case (id, _) =>
      val a = rows((budgets.max, s"word:$id")); val b = q372(s"word:$id")
      assert(a.getAs[Long]("n_tokens") == b.getAs[Long]("n_tokens"), s"word $id")
      assert(a.getAs[Long]("n_fallback") == b.getAs[Long]("n_fallback"), s"word $id")
    }
    // (c) greedy BPE is prefix-stable: an independent 10-merge train
    // reproduces the 30-merge train's first ten merges exactly
    val wf = graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("t2", org.apache.spark.sql.functions.concat($"text",
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.array(TextOps.Utf8Plant.map(lit): _*),
          pmod($"doc_id", lit(8)).cast("int") + 1),
        lit(" fin")))
      .select(explode(expr("filter(split(t2, ' '), x -> x <> '')")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("c"))
    val m30 = TextOps.bpeTrain(spark, wf, 30, TextOps.ByteSymsExpr)._1
      .map(r => (r.getString(1), r.getString(2)))
    val m10 = TextOps.bpeTrain(spark, wf, 10, TextOps.ByteSymsExpr)._1
      .map(r => (r.getString(1), r.getString(2)))
    assert(m10 == m30.take(10), "greedy merges are not prefix-stable")
    // (d) the raw-byte class is budget-invariant: Katakana stays 100%
    // fallback at every checkpoint
    budgets.foreach { b =>
      assert(rows((b, "word:3")).getAs[Long]("fallback_ppm") == 1000000L, s"b=$b")
    }
  }

  test("q382: patch watermark — the one shared tile is the stamp's replayed fold") {
    import spark.implicits._
    val rows = MultimodalOps.q382PatchWatermark(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // the stamp's signature, re-derived from the wmPixel formula alone
    var acc = 0L
    for (jj <- 0 until 8; ii <- 0 until 8)
      acc = (acc * 31L + MultimodalOps.wmPixel(ii, jj)) % 1000000007L
    val nDocs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id").as[Long].collect()
    val wmDocs = nDocs.filter(id => Math.floorMod(id, MultimodalOps.WmMod) ==
      MultimodalOps.WmRes)
    assert(rows("1_images_total").getAs[Long]("n_images") == nDocs.length.toLong)
    assert(rows("2_watermarked").getAs[Long]("n_images") == wmDocs.length.toLong)
    // EXACTLY one cross-image shared tile, and it is the watermark:
    // every stamped image carries it, the first carrier is the smallest
    // stamped id, and no natural texture tile ever collides (the
    // doc-unique texture key — asserted by the count being exact)
    assert(rows("3_shared_sigs").getAs[Long]("n_images") == 1L)
    val sig = rows.keys.find(_.startsWith("sig:")).get
    assert(sig == s"sig:$acc", "shared tile is not the replayed stamp fold")
    assert(rows(sig).getAs[Long]("n_images") == wmDocs.length.toLong)
    assert(rows(sig).getAs[Long]("min_doc") == wmDocs.min)
  }

  test("q366: byte-level BPE — open vocabulary, merges ride, bytes round-trip") {
    import spark.implicits._
    def hexSyms(w: String): Seq[String] =
      w.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").toSeq
    val rows = TextOps.q366ByteBpe(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // corpus leg: merges applied corpus-wide (strict compression per lang)
    val langRows = rows.filter(_._1.startsWith("lang:"))
    assert(langRows.nonEmpty)
    langRows.values.foreach { r =>
      assert(r.getAs[Long]("n_tokens") < r.getAs[Long]("n_bytes"))
      assert(r.getAs[String]("toks") == "")
    }
    // plant leg: re-derive every token string with the DRIVER replay of
    // the greedy rank-order encode over hex-pair symbols, using merges
    // from the same trainer run the operator performs
    val wf = graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("t2", org.apache.spark.sql.functions.concat($"text",
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.array(TextOps.Utf8Plant.map(lit): _*),
          pmod($"doc_id", lit(8)).cast("int") + 1),
        lit(" fin")))
      .select(explode(expr("filter(split(t2, ' '), x -> x <> '')")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("c"))
    val (trainRows, _) = TextOps.bpeTrain(spark, wf, 30, TextOps.ByteSymsExpr)
    val merges = trainRows.map(r => (r.getString(1), r.getString(2)))
    TextOps.Q366Plant.foreach { case (id, w) =>
      val r = rows(s"word:$id")
      val expect = TextOps.bpeEncodeSyms(hexSyms(w), merges)
      assert(r.getAs[String]("toks") == expect.mkString(" "), s"word $id")
      assert(r.getAs[Long]("n_bytes") == w.getBytes("UTF-8").length.toLong)
      assert(r.getAs[Long]("n_tokens") == expect.length.toLong)
      // the byte-level guarantee: tokens concatenate back to the exact
      // original UTF-8 bytes — encode can never lose or alter a byte
      assert(expect.mkString("") == hexSyms(w).mkString(""), s"round-trip $id")
    }
    // "printer" rides learned ASCII merges; the Katakana word falls back
    // to raw single-byte symbols (every learned merge on this corpus
    // pairs ASCII bytes); the supplementary-plane word tokenizes its
    // 4-byte f0-9d sequences deterministically
    assert(rows("word:1").getAs[Long]("n_tokens")
      < rows("word:1").getAs[Long]("n_bytes"))
    assert(rows("word:3").getAs[Long]("n_tokens")
      == rows("word:3").getAs[Long]("n_bytes"))
    assert(rows("word:4").getAs[String]("toks").startsWith("f0 9d"))
  }

  // one default SA build shared by the q364 spec and the walk-branch spec
  private lazy val saBuildDefault =
    graft.ops.SuffixArrayOps.build(spark, sf)

  test("q364: LCP-walk broadcast gate — both branches row-identical, plans pinned") {
    import graft.ops.SuffixArrayOps
    import spark.implicits._
    // (a) the escalated (shuffle) branch: cap 0 forces every level join
    // to the shuffle path; the report must be row-identical to the
    // default broadcast build (the 59239d9 both-branches rule)
    val shuffled = SuffixArrayOps.build(spark, sf, walkBroadcastPairCap = 0L)
    val want = saBuildDefault.report.collect().map(_.toSeq).toSeq
    val got = shuffled.report.collect().map(_.toSeq).toSeq
    assert(got == want, "escalated walk changed the report")
    // (b) plan pin for ONE walk level (the stage the q364 budget entry
    // cannot see behind the localCheckpoints): under the cap the request
    // side is a BroadcastHashJoin with a single groupBy shuffle; past
    // the cap it is a SortMergeJoin — pinned with the size estimator
    // disabled so the pin tests the BRANCH, not AQE's coincidence
    val pairs = Seq((1L, 1L, 10L, 2L, 1L, 10L, 0L))
      .toDF("da", "oa", "la", "db", "ob", "lb", "lcp")
    val lt = Seq((1L, 1L, 5L)).toDF("doc_id", "off", "rank")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bPlan = SuffixArrayOps.walkLevelHits(pairs, lt, 32L, broadcastReqs = true)
        .queryExecution.executedPlan.toString
      assert(bPlan.contains("BroadcastHashJoin") && !bPlan.contains("SortMergeJoin"))
      assert("Exchange hashpartitioning".r.findAllIn(bPlan).size == 1,
        s"broadcast walk level grew a shuffle:\n$bPlan")
      val sPlan = SuffixArrayOps.walkLevelHits(pairs, lt, 32L, broadcastReqs = false)
        .queryExecution.executedPlan.toString
      assert(sPlan.contains("SortMergeJoin") && !sPlan.contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q370: SA-driven strip — driver replay, dodge single-host, q349 parity, conservation") {
    import graft.ops.{DedupOps, SuffixArrayOps}
    val l = DedupOps.SfxMinSpan
    val rows = SuffixArrayOps.q370SaStrip(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    // (a) full independent driver replay of the keep rule: min-doc per
    // L-gram, [o, o+L) interval union, segment re-assembly, md5
    val texts = saBuildDefault.normalized.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val gmin = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach { case (d, na) =>
      (0 to na.length - l).foreach { o =>
        val g = na.substring(o, o + l)
        if (!gmin.contains(g) || d < gmin(g)) gmin(g) = d
      }
    }
    def md5Hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var replayed = 0
    texts.foreach { case (d, na) =>
      val marked = (0 to na.length - l).filter(o => gmin(na.substring(o, o + l)) < d)
      if (marked.nonEmpty) {
        replayed += 1
        val islands = marked.foldLeft(Vector.empty[(Int, Int)]) {
          case (acc, o) =>
            if (acc.nonEmpty && o <= acc.last._2) // 0-based [o, o+l)
              acc.init :+ (acc.last._1, math.max(acc.last._2, o + l))
            else acc :+ (o, o + l)
        }
        val kept = (islands.map(_._1) :+ na.length).zip(
          0 +: islands.map(_._2)).map { case (to, from) =>
          na.substring(from, to)
        }.mkString("")
        val r = rows.getOrElse(d, fail(s"doc $d missing from q370 report"))
        assert(r.getAs[Long]("n_islands") == islands.size.toLong, s"doc $d")
        assert(r.getAs[Long]("chars_flagged") ==
          islands.map(i => i._2 - i._1).sum.toLong, s"doc $d")
        assert(r.getAs[Long]("n_chars") == na.length.toLong, s"doc $d")
        assert(r.getAs[Long]("kept_chars") == kept.length.toLong, s"doc $d")
        assert(r.getAs[String]("stripped_md5") == md5Hex(kept), s"doc $d")
      } else assert(!rows.contains(d), s"doc $d flagged with no marked gram")
    }
    assert(replayed == rows.size && replayed > 0)
    // (b) mass conservation on every report row (q161's discipline)
    rows.values.foreach { r =>
      assert(r.getAs[Long]("kept_chars") ==
        r.getAs[Long]("n_chars") - r.getAs[Long]("chars_flagged"))
    }
    // (c) the dodge repeat is stripped from EXACTLY one host — the
    // larger id keeps nothing of the span, the smaller keeps everything
    val Seq((idA, _), (idB, _)) = SuffixArrayOps.DodgePlant // -36401 > -36402
    assert(rows.contains(idA) &&
      rows(idA).getAs[Long]("chars_flagged") ==
        SuffixArrayOps.DodgeSpan.length.toLong)
    assert(!rows.contains(idB), "the keeper host lost text")
    // (d) q349 parity: every anchor-visible strip is covered — each
    // q349-affected doc appears here with at least its flagged mass
    DedupOps.q349SuffixStrip(spark, sf).collect().foreach { r =>
      val d = r.getLong(0)
      assert(rows.contains(d), s"q349-stripped doc $d missing")
      assert(rows(d).getAs[Long]("chars_flagged") >=
        r.getAs[Long]("chars_flagged"), s"doc $d lost flagged mass")
    }
    // (e) q364-span coverage: every exact survivor span >= L is flagged
    // in full on its LARGER doc (the flagged interval is contiguous, so
    // flagged mass is at least the span)
    saBuildDefault.pairs.collect()
      .filter(_.getAs[Long]("span") >= l.toLong).foreach { r =>
        val d = math.max(r.getAs[Long]("da"), r.getAs[Long]("db"))
        assert(rows.contains(d) &&
          rows(d).getAs[Long]("chars_flagged") >= r.getAs[Long]("span"),
          s"pair span ${r.getAs[Long]("span")} not flagged on doc $d")
      }
  }

  test("q375: strip residual — seam repeat created by pass 1, full two-pass replay") {
    import graft.ops.{DedupOps, SuffixArrayOps}
    val l = DedupOps.SfxMinSpan
    val t = SuffixArrayOps.SeamT
    val s1 = SuffixArrayOps.SeamS1
    assert(t.length == 40 && s1.length >= l)
    val Seq((idA, tA), (idD, tD), (idC, tC)) = SuffixArrayOps.SeamPlant
    // (a) the construction's claims, re-derived from the raw texts:
    // pass 1 cannot see T in C (the halves are each < L and S1 sits
    // between them), D holds T verbatim, and C's only >= L share with a
    // smaller doc is EXACTLY S1 (flanks differ on both sides)
    assert(!tC.contains(t) && tD.contains(t))
    assert(tC.contains(s1) && tA.contains(s1))
    assert(idA < idC && idD < idC)
    def lcsLen(a: String, b: String): Int = {
      var best = 0
      for (i <- a.indices; j <- b.indices) {
        var k = 0
        while (i + k < a.length && j + k < b.length && a(i + k) == b(j + k)) k += 1
        best = math.max(best, k)
      }
      best
    }
    assert(lcsLen(tC, tA) == s1.length, "shared interval is not exactly S1")
    assert(lcsLen(tC, tD) < l && lcsLen(tA, tD) < l, "T leaked before the strip")
    // (b) full two-pass driver replay over the whole corpus
    val texts = SuffixArrayOps.saBase(spark, sf, SuffixArrayOps.SeamPlant)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def markedIslands(ts: Map[Long, String]): Map[Long, Vector[(Int, Int)]] = {
      val gmin = scala.collection.mutable.HashMap.empty[String, Long]
      ts.foreach { case (d, na) =>
        (0 to na.length - l).foreach { o =>
          val g = na.substring(o, o + l)
          if (!gmin.contains(g) || d < gmin(g)) gmin(g) = d
        }
      }
      ts.flatMap { case (d, na) =>
        val marked = (0 to na.length - l)
          .filter(o => gmin(na.substring(o, o + l)) < d)
        if (marked.isEmpty) None
        else Some(d -> marked.foldLeft(Vector.empty[(Int, Int)]) {
          case (acc, o) =>
            if (acc.nonEmpty && o <= acc.last._2)
              acc.init :+ (acc.last._1, math.max(acc.last._2, o + l))
            else acc :+ (o, o + l)
        })
      }
    }
    def stripOnce(ts: Map[Long, String]): Map[Long, String] = {
      val isl = markedIslands(ts)
      ts.map { case (d, na) =>
        d -> isl.get(d).fold(na) { is =>
          (is.map(_._1) :+ na.length).zip(0 +: is.map(_._2))
            .map { case (to, from) => na.substring(from, to) }.mkString("")
        }
      }.filter(_._2.nonEmpty)
    }
    val after1 = stripOnce(texts)
    val resIsl = markedIslands(after1)
    val rows = SuffixArrayOps.q375StripResidual(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == resIsl.keySet, "residual doc set diverged")
    def md5Hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    resIsl.foreach { case (d, is) =>
      val na = after1(d)
      val kept = (is.map(_._1) :+ na.length).zip(0 +: is.map(_._2))
        .map { case (to, from) => na.substring(from, to) }.mkString("")
      val r = rows(d)
      assert(r.getAs[Long]("n_islands") == is.size.toLong, s"doc $d")
      assert(r.getAs[Long]("chars_flagged") == is.map(i => i._2 - i._1).sum.toLong, s"doc $d")
      assert(r.getAs[Long]("n_chars") == na.length.toLong, s"doc $d")
      assert(r.getAs[Long]("kept_chars") == kept.length.toLong, s"doc $d")
      assert(r.getAs[String]("stripped_md5") == md5Hex(kept), s"doc $d")
    }
    // (c) the seam doc IS in the residual (pass 1 created the repeat),
    // flagged at exactly ' '+T+' ' = 42 chars, and the flagged region of
    // the pass-1 output really contains T
    val rc = rows.getOrElse(idC, fail("seam residual missing"))
    assert(rc.getAs[Long]("chars_flagged") == t.length.toLong + 2L)
    val (ist, ien) = resIsl(idC).head
    assert(after1(idC).substring(ist, ien).contains(t))
    // (d) D itself is untouched by both passes (it is the keeper)
    assert(!rows.contains(idD) && after1(idD) == texts(idD))
  }

  test("q364: exact SA recovers the q253 lane AND the anchor-dodging repeat") {
    import graft.ops.{DedupOps, SuffixArrayOps}
    // (a) the dodge span has NO anchor in positions 1..m-SfxKey+1 — q253's
    // own decidability criterion (its scaladoc: a span is found iff an
    // anchor fires there) says the repeat is invisible to the anchor lane
    val span = SuffixArrayOps.DodgeSpan
    assert(span.length == 51 && span.length >= DedupOps.SfxMinSpan)
    val dodgeAnchors = (0 to span.length - DedupOps.SfxKey).filter(i =>
      Fingerprint.hashString(span.substring(i, i + DedupOps.SfxCtx))
        % DedupOps.SfxMod == 0)
    assert(dodgeAnchors.isEmpty, "dodge span gained an anchor — regenerate")
    // (b) operationally: the two dodge hosts share ZERO anchor keys, so
    // q253's key join can never even produce the candidate pair
    def keys(t: String): Set[String] = {
      val na = t.replaceAll(" {2,}", " ")
      (0 to na.length - DedupOps.SfxKey).filter(i =>
        Fingerprint.hashString(na.substring(i, i + DedupOps.SfxCtx))
          % DedupOps.SfxMod == 0)
        .map(i => na.substring(i, i + DedupOps.SfxKey)).toSet
    }
    val Seq((idA, tA), (idB, tB)) = SuffixArrayOps.DodgePlant
    assert(keys(tA).nonEmpty || keys(tB).nonEmpty) // hosts do have anchors...
    assert(keys(tA).intersect(keys(tB)).isEmpty)   // ...but never shared ones
    // (c) the suffix array reports both dodge docs at EXACTLY the span
    val b = saBuildDefault
    val rep = b.report.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep(idA)._2 == span.length.toLong, s"got ${rep.get(idA)}")
    assert(rep(idB)._2 == span.length.toLong, s"got ${rep.get(idB)}")
    // (d) strict superset of the anchor lane: every q253-reported pair's
    // span is matched or exceeded per doc (q253's LCE never overstates a
    // common substring, so >= is the exact containment relation); this is
    // also the q349 guarantee, whose strip spans derive from q253's
    val q253 = DedupOps.q253SuffixRepeats(spark, sf).collect()
    assert(q253.nonEmpty)
    q253.foreach { r =>
      val (a, bb, sp) = (r.getLong(0), r.getLong(1), r.getAs[Long]("max_span"))
      assert(rep.contains(a) && rep(a)._2 >= sp, s"doc $a lost span $sp")
      assert(rep.contains(bb) && rep(bb)._2 >= sp, s"doc $bb lost span $sp")
    }
    // (e) exactness certificate: every survivor pair's walked+refined+
    // clamped span equals a character-by-character driver replay from the
    // raw suffix texts (ASCII corpus: String indexing == codepoints)
    val texts = b.normalized.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairRows = b.pairs.collect()
    assert(pairRows.length > q253.length)
    pairRows.foreach { r =>
      val (da, oa) = (r.getAs[Long]("da"), r.getAs[Long]("oa"))
      val (db, ob) = (r.getAs[Long]("db"), r.getAs[Long]("ob"))
      val sa = texts(da).substring(oa.toInt - 1)
      val sb = texts(db).substring(ob.toInt - 1)
      val want = sa.zip(sb).takeWhile { case (x, y) => x == y }.size.toLong
      assert(r.getAs[Long]("span") == want, s"pair ($da,$oa)-($db,$ob)")
    }
    // (f) round count pinned: radix 32, maxLen 558 at this fixture →
    // exactly 5 doublings (32→1024), no premature all-distinct stop
    // because near-dup corpus docs share >= 512-char prefixes
    assert(b.rounds == 5, s"rounds ${b.rounds}")
    assert(b.nDistinctFinal <= b.nSuffixes && b.nSuffixes > 150000L)
  }

  test("q253: variable-length repeated spans that 5-gram dedup cannot see") {
    import graft.ops.DedupOps
    val plant = DedupOps.SuffixPlant.toMap
    def norm(t: String) = t.replaceAll(" {2,}", " ")
    // (a) q224-blindness: the jittered twins share ZERO raw word 5-grams
    def grams5(t: String) =
      { val w = t.split(" ", -1); w.sliding(5).map(_.toSeq).toSet }
    assert(grams5(plant(-203L)).intersect(grams5(plant(-204L))).isEmpty)
    // (b) detection precondition asserted, not assumed: every target span
    // has an anchor (byte-fold of the 8-char context ≡ 0 mod 4) within
    // its first span-24+1 positions, where the full 24-char key fits
    def lcs(a: String, b: String): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      var best = 0
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1; best = math.max(best, dp(i)(j))
        }
      best
    }
    def longestShared(x: Long, y: Long): (Int, String) = {
      val (a, b) = (norm(plant(x)), norm(plant(y)))
      val n = lcs(a, b)
      val span = (0 to a.length - n).map(i => a.substring(i, i + n))
        .find(sp => b.contains(sp)).get
      (n, span)
    }
    for ((x, y, want) <- Seq((-201L, -202L, 76), (-203L, -204L, 71))) {
      val (n, span) = longestShared(x, y)
      assert(n == want, s"plant span ($x,$y)")
      val anchors = (0 to span.length - DedupOps.SfxKey).filter(i =>
        Fingerprint.hashString(span.substring(i, i + DedupOps.SfxCtx))
          % DedupOps.SfxMod == 0)
      assert(anchors.nonEmpty, s"no in-span anchor for ($x,$y) — detection not guaranteed")
    }
    // (c) the operator recovers exactly those spans, skips the control and
    // the below-threshold 37-char pair
    val got = DedupOps.q253SuffixRepeats(spark, sf).collect()
      .filter(_.getLong(0) < 0)
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got == Map((-202L, -201L) -> 76L, (-204L, -203L) -> 71L), s"got $got")
    val (qn, _) = longestShared(-206L, -207L)
    assert(qn == 37 && qn < DedupOps.SfxMinSpan) // boundary control really is sub-threshold
  }

  test("q349: strip removes exactly the shared spans, keep-first holds") {
    import graft.ops.DedupOps
    val plant = DedupOps.SuffixPlant.toMap
    def norm(t: String) = t.replaceAll(" {2,}", " ")
    def lcs(a: String, b: String): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      var best = 0
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1; best = math.max(best, dp(i)(j))
        }
      best
    }
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = DedupOps.q349SuffixStrip(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // keep-first: the smaller id of each plant pair keeps its copy; the
    // control and the sub-threshold pair are untouched entirely
    Seq(-202L, -204L, -205L, -206L, -207L).foreach(id =>
      assert(!got.contains(id), s"$id must not be stripped"))
    // strip boundaries are EXACT: the removed island is precisely the
    // maximal shared span, pinned through the md5 of the remainder
    for ((victim, keeper, want) <- Seq((-201L, -202L, 76), (-203L, -204L, 71))) {
      val a = norm(plant(victim)); val b = norm(plant(keeper))
      val n = lcs(a, b)
      assert(n == want)
      val span = (0 to a.length - n).map(i => a.substring(i, i + n))
        .find(sp => b.contains(sp)).get
      val idx = a.indexOf(span)
      val stripped = a.substring(0, idx) + a.substring(idx + n)
      val r = got(victim)
      assert(r.getAs[Long]("n_islands") == 1L)
      assert(r.getAs[Long]("chars_flagged") == n.toLong)
      assert(r.getAs[String]("stripped_md5") == md5hex(stripped),
        s"$victim strip boundaries off")
    }
    // exact-dup corpus copies strip to nothing: keep 0 ⇒ md5 of ""
    got.values.foreach { r =>
      val (f, nch) = (r.getAs[Long]("chars_flagged"), r.getAs[Long]("n_chars"))
      assert(f <= nch)
      assert(r.getAs[Long]("keep_ppm") == (nch - f) * 1000000L / nch)
      if (f == nch)
        assert(r.getAs[String]("stripped_md5") ==
          "d41d8cd98f00b204e9800998ecf8427e")
    }
    assert(got.values.exists(_.getAs[Long]("keep_ppm") == 0L))
  }

  test("q254: decoded scene cuts land exactly on the planted boundaries") {
    import spark.implicits._
    val got = graft.ops.MultimodalOps.q254SceneCuts(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (id, (nFrames, nCuts, mask, maxE)) =>
      val w = Math.floorMod(id, 7L) + 5
      val h = Math.floorMod(id, 5L) + 5
      val nf = Math.floorMod(id, 12L) + 4
      val L = Math.floorMod(id, 3L) + 2
      def p(s: Long) = Math.floorMod(id + 97L * s, 150L)
      // ground truth from the scheme: a cut at every frame f whose scene
      // index advances; energy w·h·Δ² with Δ = P(s_f) − P(s_{f−1}) + 1
      val cutFrames = (1L until nf).filter(f => f / L != (f - 1) / L)
      val energies = (1L until nf).map { f =>
        val d = p(f / L) - p((f - 1) / L) + 1; w * h * d * d
      }
      assert(nFrames == nf, s"doc $id frames")
      assert(nCuts == cutFrames.size.toLong, s"doc $id cut count")
      assert(mask == cutFrames.map(1L << _).sum, s"doc $id cut POSITIONS")
      assert(maxE == energies.max, s"doc $id max energy")
      // the threshold really separates: every within-scene pair is w·h,
      // every boundary pair ≥ 2704·w·h
      energies.zip(1L until nf).foreach { case (e, f) =>
        if (f / L != (f - 1) / L) assert(e >= 2704 * w * h)
        else assert(e == w * h)
      }
    }
    // the sf covers multi-scene sequences of every scene length
    val ids = got.map(_._1)
    assert(ids.map(id => Math.floorMod(id, 3L)).distinct.size == 3)
  }

  test("q256: NFC normalization clusters canonically-equivalent variants only") {
    import spark.implicits._
    import graft.ops.DedupOps
    graft.functions.NfcNormalize.register(spark)
    val plant = DedupOps.NfcPlant
    // graft_nfc == java.text.Normalizer NFC on every plant + q252's
    // Unicode dictionary (the two must be THE SAME implementation surface)
    val inputs = plant.map(_._2) ++ graft.ops.TextOps.Utf8Plant.filter(_.nonEmpty)
    inputs.toDF("s").selectExpr("s", "graft_nfc(s) AS n").collect().foreach { r =>
      assert(r.getString(1) ==
        java.text.Normalizer.normalize(r.getString(0), java.text.Normalizer.Form.NFC))
    }
    // the plant really exercises all three phenomena: decomposition,
    // singleton mapping, and pure combining-class reordering
    def nfc(s: String) = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val byId = plant.toMap
    assert(byId(-301L) != byId(-302L) && nfc(byId(-301L)) == nfc(byId(-302L)))
    assert(byId(-303L) != byId(-304L) && nfc(byId(-303L)) == nfc(byId(-304L)))
    assert(byId(-307L) != byId(-308L) && nfc(byId(-307L)) == nfc(byId(-308L)))
    assert(nfc(byId(-308L)) == byId(-307L)) // -307 is already canonical order
    val got = DedupOps.q256NfcDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(-302L -> (2L, 2L), -304L -> (2L, 2L), -306L -> (2L, 2L),
      -308L -> (2L, 2L), -312L -> (3L, 3L)), s"got $got")
  }

  test("q260: boilerplate strip replays and removes what q163 found") {
    import spark.implicits._
    def lcp64(a: String, b: String): Long = {
      val m = math.min(64, math.min(a.length, b.length))
      var i = 0
      while (i < m && a(i) == b(i)) i += 1
      i.toLong
    }
    def audit(rows: Seq[(Long, String, String)]): Map[String, Seq[(Long, String, Long)]] =
      rows.groupBy(_._2).view.mapValues { ds =>
        val sorted = ds.sortBy(d => (d._3, d._1))
        sorted.zipWithIndex.map { case ((id, _, t), i) =>
          (id, t, if (i == 0) 0L else lcp64(t, sorted(i - 1)._3))
        }
      }.toMap
    val base = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
      .map { case (id, l, t) => (id, l, Option(t).getOrElse("")) }.toSeq
    val beforeA = audit(base)
    val stripped = beforeA.toSeq.flatMap { case (lang, ds) =>
      ds.map { case (id, t, l) =>
        (id, lang, if (l >= 20) t.substring(l.toInt) else t, l, l >= 20)
      }
    }
    val afterA = audit(stripped.map(d => (d._1, d._2, d._3)))
    val want = afterA.map { case (lang, ds) =>
      val pre = stripped.filter(_._2 == lang)
      lang -> (ds.length.toLong,
        pre.count(_._4 >= 20).toLong,
        pre.count(_._5).toLong,
        pre.filter(_._5).map(_._4).sum,
        ds.count(_._3 >= 20).toLong,
        pre.map(d => Fingerprint.hashString(d._3)).foldLeft(0L)(_ ^ _))
    }
    val got = graft.ops.DedupOps.q260BoilerplateStrip(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got == want)
    // the execution proves itself: stripping never increases the audit
    got.foreach { case (l, v) => assert(v._5 <= v._2, s"$l grew boilerplate") }
    assert(got.values.map(_._3).sum > 0L) // something was actually stripped
  }

  test("q261: silence-split segmentation recovers the planted structure") {
    val got = graft.ops.MultimodalOps.q261AudioSegments(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    got.foreach { case (id, (n, nSeg, active, maxSeg, ampSum)) =>
      val wantSeg = Math.floorMod(id, 4L) + 2
      val lens = (0 until wantSeg.toInt).map(k =>
        20L + Math.floorMod(Math.floorMod(id, 30L) + 7L * k, 30L))
      assert(nSeg == wantSeg, s"doc $id segments")
      assert(active == lens.sum && maxSeg == lens.max, s"doc $id lengths")
      assert(n == lens.sum + 16 * (wantSeg - 1), s"doc $id samples")
      // amplitude mass replay with the pre-reduced id
      val idm = Math.floorMod(id, 80L)
      var pos = 0L; var want = 0L
      lens.foreach { len =>
        (0L until len).foreach(j => want += 20L + Math.floorMod(7L * idm + 13L * (pos + j), 80L))
        pos += len + 16
      }
      assert(ampSum == want, s"doc $id amplitude")
    }
    assert(got.map(_._2._2).distinct.sorted.toSeq == Seq(2L, 3L, 4L, 5L))
  }

  test("q262: every true FK surfaces as a full inclusion dependency") {
    val got = graft.operators.SchemaOps.q262FkDiscovery(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    val trueFks = Seq(
      "lineitem.l_orderkey" -> "orders.o_orderkey",
      "lineitem.l_partkey" -> "part.p_partkey",
      "lineitem.l_suppkey" -> "supplier.s_suppkey",
      "orders.o_custkey" -> "customer.c_custkey",
      "customer.c_nationkey" -> "nation.n_nationkey",
      "supplier.s_nationkey" -> "nation.n_nationkey",
      "nation.n_regionkey" -> "region.r_regionkey")
    trueFks.foreach { fk =>
      assert(got.get(fk).contains(1000000L), s"missing/partial true FK $fk")
    }
    // candidates are a superset: coincidental dense-range inclusions are
    // reported, never silently dropped
    assert(got.size >= trueFks.size)
    // and the coefficient really is directional arithmetic, not set
    // symmetry: at least one reported pair is partial (< 1e6 ppm)
    assert(got.values.exists(v => v >= 950000L && v < 1000000L))
  }

  test("q263: exactly the true primary keys flag as candidates") {
    val got = graft.operators.SchemaOps.q263KeyCandidates(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val pks = got.collect { case (c, v) if v._5 == 1L => c }.toSet
    // every true PK flags; extra candidates are allowed ONLY when the
    // column really is unique in this sample (s_nationkey at sf0.001:
    // 10 suppliers in 10 distinct nations — the audit reports the data,
    // and the uniqueness-consistency loop below proves any extra is real)
    assert(pks.subsetOf(got.keySet))
    Set("region.r_regionkey", "nation.n_nationkey",
      "customer.c_custkey", "supplier.s_suppkey", "part.p_partkey",
      "orders.o_orderkey", "documents.doc_id", "embeddings.vec_id")
      .foreach(t => assert(pks(t), s"true PK $t not flagged"))
    got.foreach { case (c, (rows, distinct, ppm, maxDup, pk)) =>
      assert(ppm == distinct * 1000000L / rows, c)
      assert((pk == 1L) == (distinct == rows && maxDup == 1L), c)
    }
    // composes with q262: every true-FK TARGET is a PK candidate
    Seq("orders.o_orderkey", "part.p_partkey", "supplier.s_suppkey",
      "customer.c_custkey", "nation.n_nationkey", "region.r_regionkey")
      .foreach(t => assert(pks(t), s"FK target $t not a key"))
  }

  test("q273: sparse TV identity equals the dense grid; replay agrees") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("CAST(c_nationkey AS BIGINT)", "c_mktsegment",
        "CAST(round(c_acctbal * 100) AS BIGINT) div 100000")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val cb = cust.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cls = cust.groupBy(c => (c._1, c._2)).view.mapValues(_.size.toLong).toMap
    val bndC = cust.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val nTot = cust.length.toLong
    val pB = bndC.view.mapValues(_ * 1000000L / nTot).toMap
    val pTotal = pB.values.sum
    val expect = cls.map { case ((nk, seg), nc) =>
      // dense-grid TV: every global band contributes, absent ones at p_b
      val dense = pB.map { case (b, pb) =>
        val pcb = cb.getOrElse((nk, seg, b), 0L) * 1000000L / nc
        math.abs(pcb - pb)
      }.sum / 2
      // sparse identity: present cells only + the P_total constant
      val sparse = (cb.collect { case ((`nk`, `seg`, b), n) =>
        math.abs(n * 1000000L / nc - pB(b)) - pB(b) }.sum + pTotal) / 2
      assert(dense == sparse, s"identity broken at ($nk, $seg)")
      (nk, seg) -> (nc, sparse)
    }
    val got = graft.ops.PipelineOps.q273TCloseness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got.view.mapValues(v => (v._1, v._2)).toMap == expect)
    got.foreach { case (_, (_, tv, v)) =>
      assert(v == (if (tv > 200000L) "skewed" else "publish"))
      assert(tv >= 0L && tv <= 1000000L)
    }
  }

  test("q275: the DP is exhaustively optimal; the report reconciles exactly") {
    def costOf(c: Array[Long], k: Int, i: Int): Long = {
      val s = c.slice(k, i).sum; val q = c.slice(k, i).map(x => x * x).sum
      (i - k).toLong * q - s * s
    }
    // exhaustive optimality on a small rigged instance: 12 cells with two
    // obvious cliffs, 4 buckets, all C(11,3) = 165 partitions enumerated
    val rig = Array[Long](9, 9, 9, 9, 1, 1, 1, 50, 50, 2, 2, 2)
    def dpSolve(c: Array[Long], b: Int): (Long, Seq[Int]) = {
      val v = c.length
      val dp = Array.fill(b + 1, v + 1)(Long.MaxValue)
      val par = Array.fill(b + 1, v + 1)(0)
      dp(0)(0) = 0L
      for (j <- 1 to b; i <- j to v; k <- (j - 1) until i)
        if (dp(j - 1)(k) != Long.MaxValue) {
          val x = dp(j - 1)(k) + costOf(c, k, i)
          if (x < dp(j)(i)) { dp(j)(i) = x; par(j)(i) = k }
        }
      val bounds = new Array[Int](b + 1); bounds(b) = v
      for (j <- b to 1 by -1) bounds(j - 1) = par(j)(bounds(j))
      (dp(b)(v), bounds.toSeq)
    }
    val (best, bounds) = dpSolve(rig, 4)
    val exhaustive = (1 until 12).combinations(3).map { cut =>
      val bs = 0 +: cut :+ 12
      bs.sliding(2).map { case Seq(a, b) => costOf(rig, a, b) }.sum
    }.min
    assert(best == exhaustive)
    assert(bounds.sliding(2).forall { case Seq(a, b) => a < b })
    // the report: buckets tile 0..255, counts reconcile to the order
    // count, per-bucket cost recomputes, and the cliffs in the rig prove
    // the DP prefers variance cuts (sanity of the objective)
    val got = graft.operators.SchemaOps.q275VOptHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.map(_._1).toSeq == (1L to 8L))
    assert(got.head._2 == 0L && got.last._3 == 255L)
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 == a._3 + 1, "buckets must tile the domain") }
    val n = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(got.map(_._4).sum == n)
    // recompute each bucket's cost from raw cents
    val cents = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("least(CAST(round(o_totalprice * 100) AS BIGINT) div 200000, 255L) AS ci")
      .collect().map(_.getLong(0))
    val cells = Array.tabulate(256)(i => cents.count(_ == i.toLong).toLong)
    got.foreach { case (_, lo, hi, nr, sse) =>
      assert(nr == cells.slice(lo.toInt, hi.toInt + 1).sum)
      assert(sse == costOf(cells, lo.toInt, hi.toInt + 1))
    }
    // and the chosen partition beats the naive equi-width one
    val equi = (0 to 8).map(_ * 32)
    val equiCost = equi.sliding(2).map { case Seq(a, b) => costOf(cells, a, b) }.sum
    assert(got.map(_._5).sum <= equiCost)
  }

  test("q276: both estimators replay; depth beats width on the heavy tail") {
    import graft.operators.SchemaOps
    val ci = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("least(CAST(round(o_totalprice * 100) AS BIGINT) div 12500, 4095L) AS i")
      .collect().map(_.getLong(0).toInt)
    val c = Array.tabulate(4096)(i => ci.count(_ == i).toLong)
    val cum = c.scanLeft(0L)(_ + _).tail // cum(i) inclusive
    val n = c.sum
    val vj = (1 to 7).map(j => (0 until 4096).find(cum(_) * 8 >= j * n).get)
    def db(i: Int) = 1 + vj.count(_ <= i)
    def wb(i: Int) = i / 512 + 1
    def buckets(f: Int => Int) = (0 until 4096).groupBy(f).map {
      case (b, is) => (is.min, is.max, is.map(c(_)).sum) }.toSeq
    def est(bs: Seq[(Int, Int, Long)], lo: Int, hi: Int) = bs.map {
      case (blo, bhi, nb) =>
        val ov = math.max(0, math.min(hi - 1, bhi) - math.max(lo, blo) + 1)
        nb * ov / (bhi - blo + 1)
    }.sum
    val got = SchemaOps.q276SelectivityAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    SchemaOps.SelPredicates.foreach { case (lo, hi) =>
      val (loc, hic) = ((lo / 12500).toInt, (hi / 12500).toInt)
      val exact = (loc until hic).map(c(_)).sum
      val (ew, ed) = (est(buckets(wb), loc, hic), est(buckets(db), loc, hic))
      val want = (exact, ew, ed,
        math.abs(ew - exact) * 1000000L / math.max(exact, 1L),
        math.abs(ed - exact) * 1000000L / math.max(exact, 1L))
      assert(got((lo, hi)) == want, s"predicate [$lo, $hi)")
    }
    // the audit's reason to exist: the estimators genuinely differ and
    // carry measurable, nonzero error somewhere
    assert(got.values.exists(v => v._4 != v._5))
    assert(got.values.exists(v => v._4 > 0L))
  }

  test("q277: exactly the planted violations surface, with their keys") {
    val got = graft.operators.SchemaOps.q277ConstraintVerify(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.size == 5)
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    val nOrd = spark.read.parquet(s"$sf/orders.parquet").count()
    val nLi = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(got("customer.c_custkey NOT NULL") == (nCust + 1, 1L, -1L))
    assert(got("orders.o_orderkey UNIQUE") == (nOrd + 3, 2L, -701L))
    assert(got("orders.o_custkey FK customer.c_custkey") ==
      (nOrd + 1, 1L, -711L))
    assert(got("orders.o_totalprice CHECK > 0") == (nOrd + 1, 1L, -721L))
    assert(got("lineitem.l_quantity CHECK 1..50") == (nLi + 1, 1L, -731L))
  }

  test("q278: the sniffer needs quote handling; verdicts match the dialects") {
    val got = graft.operators.TransferOps.q278CsvSniff(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.size == 500)
    got.foreach { case (id, (delim, nf, quoted, hdr)) =>
      assert(delim == id % 4, s"delim $id")
      assert(nf == 3L, s"fields $id")
      assert(quoted == (if (id % 2 == 0) 1L else 0L), s"quoted $id")
      assert(hdr == (if (id % 3 == 0) 1L else 0L), s"header $id")
    }
    // the decoy does its job: WITHOUT quote stripping the true
    // delimiter's per-line counts are inconsistent on a quoted blob
    val blob = "10,\"22\",30\n40,\"x,;\t|x\",60\n70,\"88\",90"
    def counts(strip: Boolean) = blob.split("\n", -1).toSeq.map { l0 =>
      val l = if (strip) l0.replaceAll("\"[^\"]*\"", "q") else l0
      l.count(_ == ',')
    }
    assert(counts(strip = true).distinct.size == 1)  // detector's view
    assert(counts(strip = false).distinct.size > 1)  // naive split fails
  }

  test("q279: measured FPP sits on the theory curve; no false negatives") {
    val got = graft.ops.PipelineOps.q279BloomCalibration(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    got.foreach { case (k, (nKeys, nBits, nProbes, fp, ppm)) =>
      assert(nProbes == nKeys)
      assert(nBits <= k * nKeys) // at most one bit per (key, hash)
      assert(ppm == fp * 1000000L / nProbes)
      // theory envelope: measured within [theory/3 - 2, 3*theory + 2]
      // counts (loose band — the measurement is exact, the formula is
      // asymptotic; the additive slack covers near-zero expectations)
      val p = math.pow(1.0 - math.exp(-k.toDouble * nKeys / 16384.0), k.toDouble)
      val expect = p * nProbes
      assert(fp <= 3.0 * expect + 2.0, s"k=$k fp=$fp expect=$expect")
      assert(fp >= expect / 3.0 - 2.0, s"k=$k fp=$fp expect=$expect")
    }
    // more hashes, fewer false positives (allow slack-2 at tiny counts)
    assert(got(1L)._4 + 2 >= got(2L)._4 && got(2L)._4 + 2 >= got(4L)._4)
    // the filter never lies about members: re-probing the KEY set itself
    // through the same op means every key hits (checked structurally: a
    // member's positions are set by construction — bit_or includes them)
  }

  test("q280: the staircase plan equals brute-force dominance; ties survive") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .selectExpr("CAST(p_partkey AS BIGINT)",
        "CAST(round(p_retailprice * 100) AS BIGINT)", "CAST(p_size AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def front(ps: Seq[(Long, Long, Long)]) = ps.filter { case (_, pc, sz) =>
      !ps.exists { case (_, qc, qz) =>
        qc <= pc && qz <= sz && (qc < pc || qz < sz) }
    }.sortBy(p => (p._3, p._1))
    val want = front(parts.toSeq)
    val got = graft.operators.Relational.q280Skyline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want && got.nonEmpty)
    // the front is a strict staircase in (size asc, price desc)
    got.map(_._2).sliding(2).foreach {
      case Seq(a, b) => assert(b < a); case _ => }
    // tie semantics on a rigged set: two parts at one front point both
    // survive; a same-size higher-price part does not
    val rig = Seq((1L, 100L, 5L), (2L, 100L, 5L), (3L, 120L, 5L),
      (4L, 90L, 9L), (5L, 100L, 9L))
    assert(front(rig).map(_._1) == Seq(1L, 2L, 4L))
  }

  test("q288: bitmap algebra answers every predicate exactly; positions dense") {
    val got = graft.operators.Relational.q288BitmapIndex(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet == Set("0_index_stats", "1_rf_and_ls", "2_qband_in",
      "3_rf_and_not_qband"))
    // zero divergence between the index answer and the exact scan, on
    // every predicate shape INCLUDING the universe popcount
    got.values.foreach { case (_, _, _, diff) => assert(diff == 0L) }
    // dense packing: word count = ceil(rows / 32)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_returnflag", "l_linestatus",
        "CAST(round(l_quantity) AS BIGINT) AS q").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2) / 10))
    assert(got("0_index_stats")._1 == (li.length + 31) / 32)
    assert(got("0_index_stats")._3 == li.length.toLong)
    // exact legs replay from raw rows
    assert(got("1_rf_and_ls")._3 ==
      li.count(t => t._1 == "R" && t._2 == "F").toLong)
    assert(got("2_qband_in")._3 ==
      li.count(t => t._3 == 0L || t._3 == 4L).toLong)
    assert(got("3_rf_and_not_qband")._3 ==
      li.count(t => t._1 == "A" && t._3 != 2L).toLong)
  }

  test("q310: routing is exclusive, exhaustive, and membership-exact") {
    val rows = graft.operators.SchemaOps.q310QuarantineRoute(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.keySet == Set("1_null_custkey", "2_dup_orderkey",
      "3_fk_orphan", "4_nonpositive_amount", "5_accepted"))
    // each planted class lands in ITS bucket under first-match priority
    assert(rows("1_null_custkey")._1 == 1L && rows("1_null_custkey")._2 == -741L)
    assert(rows("2_dup_orderkey")._1 == 2L && rows("2_dup_orderkey")._2 == -701L)
    assert(rows("3_fk_orphan")._1 == 1L && rows("3_fk_orphan")._2 == -751L)
    assert(rows("4_nonpositive_amount") == ((1L, -721L,
      graft.functions.Fingerprint.hashString("-721|-12345")))
    )
    // exhaustive: buckets reconcile to the feed (orders + 5 plants)
    val nOrders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.values.map(_._1).sum == nOrders + 5L)
    // membership-exact: the accepted checksum equals the clean corpus's
    val keyed = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_orderkey AS BIGINT)",
        "CAST(round(o_totalprice * 100) AS BIGINT)").collect()
      .map(r => (r.getLong(0), graft.functions.Fingerprint.hashString(
        s"${r.getLong(0)}|${r.getLong(1)}")))
    assert(rows("5_accepted") ==
      ((nOrders, keyed.map(_._1).min, keyed.map(_._2).sum)))
  }

  test("q308: costs replay from independent join counts; cross joins are pruned") {
    val got = graft.operators.SchemaOps.q308JoinOrderAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // connectivity pruning: 8 of the 24 permutations survive, and no
    // surviving order opens with the disconnected {C,P} pair
    assert(got.size == 8)
    got.foreach { case (_, ord, _, _) =>
      assert(!ord.startsWith("C>P") && !ord.startsWith("P>C"), ord)
    }
    // independent cardinality replay from collected keys
    val lk = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("CAST(l_orderkey AS BIGINT)", "CAST(l_partkey AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ok = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_orderkey AS BIGINT)", "CAST(o_custkey AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cs = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("CAST(c_custkey AS BIGINT)").collect().map(_.getLong(0)).toSet
    val ps = spark.read.parquet(s"$sf/part.parquet")
      .selectExpr("CAST(p_partkey AS BIGINT)").collect().map(_.getLong(0)).toSet
    val oMap = ok.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val lo = lk.flatMap { case (o, p) =>
      oMap.getOrElse(o, Seq.empty[Long]).map(c => (p, c)) }
    val cards = Map(
      Set("L", "O") -> lo.length.toLong,
      Set("L", "P") -> lk.count(r => ps.contains(r._2)).toLong,
      Set("O", "C") -> ok.count(r => cs.contains(r._2)).toLong,
      Set("L", "O", "C") -> lo.count(r => cs.contains(r._2)).toLong,
      Set("L", "O", "P") -> lo.count(r => ps.contains(r._1)).toLong,
      Set("L", "O", "C", "P") ->
        lo.count(r => cs.contains(r._2) && ps.contains(r._1)).toLong)
    val best = got.head._3
    got.foreach { case (_, ord, cost, ratio) =>
      val perm = ord.split(">").toSeq
      val expect = (2 to 4).map(k => cards(perm.take(k).toSet)).sum: Long
      assert(cost == expect && ratio == cost * 1000000L / best, ord)
    }
    // the lesson is visible: the order spread is real
    assert(got.last._3 > got.head._3)
  }

  test("q307: the golden record is a composite no single member equals") {
    val got = graft.ops.DedupOps.q307Survivorship(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3),
        r.getString(4), r.getLong(5))).toMap
    val masters = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("CAST(c_custkey AS BIGINT)", "c_name",
        "CAST(round(c_acctbal * 100) AS BIGINT)", "c_mktsegment")
      .collect().filter(_.getLong(0) % 50 == 3)
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got.keySet == masters.keySet && got.nonEmpty)
    got.foreach { case (k, (n, gName, gCents, gSeg, conflicts)) =>
      val (mName, mCents, mSeg) = masters(k)
      assert(n == 2L)
      // per-field survivorship: name from the MASTER (lexicographic min
      // beats the 'X' typo), balance from the IMPORT (max = +7 drift),
      // segment by master priority — a composite neither member equals
      assert(gName == mName && gCents == mCents + 7L && gSeg == mSeg, s"$k")
      assert(conflicts == 2L) // name and cents disagreed; segment did not
    }
  }

  test("q292: multi-field evidence separates typo-copies from balance-coincidences") {
    val got = graft.ops.DedupOps.q292RecordLinkage(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toMap
    assert(got.nonEmpty)
    got.foreach { case (candId, (matched, score, lev, nPairs, verdict)) =>
      val srcKey = -candId
      if (srcKey % 50 == 3) {
        // typo copy: full evidence (name<=2, balance 7c, same segment)
        assert(verdict == "match" && score == 48L, s"cand $candId")
        assert(matched == srcKey, s"cand $candId matched $matched")
        assert(lev <= 2L)
      } else {
        // stranger: balance agrees (+16) but name (-8) and segment (-2)
        // disagree — one field is not enough
        assert(srcKey % 50 == 17)
        assert(verdict == "non_match" && score == 6L, s"cand $candId")
      }
      assert(nPairs >= 1L)
    }
    // both planted classes are present
    assert(got.values.count(_._5 == "match") > 0)
    assert(got.values.count(_._5 == "non_match") > 0)
  }

  test("q303: patch stats survive the real codec; plants yield exactly one flat patch") {
    import spark.implicits._
    val got = graft.ops.MultimodalOps.q303PatchAudit(spark, sf).collect()
    assert(got.nonEmpty)
    // codec-independent replay straight from the generator formula — the
    // query's numbers went through a REAL PNG encode/decode, so equality
    // proves the raster round-trips losslessly
    got.foreach { a =>
      val id = a.doc_id
      val (w, h) = ((16 + Math.floorMod(id, 16L)).toInt, (16 + Math.floorMod(id, 9L)).toInt)
      assert(a.width == w.toLong && a.height == h.toLong)
      val (gw, gh) = (w / 8, h / 8)
      assert(a.n_patches == (gw * gh).toLong)
      var nFlat = 0L; var varSum = 0L; var pixSum = 0L
      for (pj <- 0 until gh; pi <- 0 until gw) {
        var sg = 0L; var sg2 = 0L
        for (dy <- 0 until 8; dx <- 0 until 8) {
          val (i, j) = (pi * 8 + dx, pj * 8 + dy)
          val g = if (Math.floorMod(id, 5L) == 0L && i < 8 && j < 8) 128L
                  else Math.floorMod(id + 31L * i + 17L * j, 256L)
          sg += g; sg2 += g * g
        }
        val vr = 64L * sg2 - sg * sg
        assert(vr >= 0L) // Cauchy-Schwarz
        if (vr == 0L) nFlat += 1L
        varSum += vr; pixSum += sg
      }
      assert(a.n_flat == nFlat && a.var_checksum == varSum && a.pix_sum == pixSum,
        s"doc $id")
      // the plant contract: letterbox corner iff id % 5 == 0, exactly one
      assert(a.n_flat == (if (Math.floorMod(id, 5L) == 0L) 1L else 0L), s"doc $id")
    }
  }

  test("q297: the threshold algorithm's top-10 equals brute force at a tiny depth") {
    val got = graft.operators.Relational.q297ThresholdTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(got.size == 10)
    // brute force over EVERYTHING — the TA guarantee is exactness
    val bal = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("CAST(c_custkey AS BIGINT)",
        "CAST(round(c_acctbal * 100) AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val spend = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_custkey AS BIGINT)",
        "CAST(round(o_totalprice * 100) AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
    val brute = bal.map { case (k, s1) => (k, s1 + spend.getOrElse(k, 0L)) }
      .sortBy(p => (-p._2, p._1)).take(10)
    assert(got.map(r => (r._2, r._3)).toSeq == brute.toSeq)
    // the saving is real: depth and candidate count far below n
    val n = bal.length.toLong
    val (depth, seen) = (got.head._4, got.head._5)
    assert(depth <= 32L && seen < n / 2, s"depth $depth seen $seen of $n")
    // TA stop condition replay: 10th best among seen >= threshold at depth
    val l1 = bal.map { case (k, s1) => (k, s1) }.sortBy(p => (-p._2, p._1))
    val l2 = bal.map { case (k, _) => (k, spend.getOrElse(k, 0L)) }
      .sortBy(p => (-p._2, p._1))
    val t = l1((depth - 1).toInt)._2 + l2((depth - 1).toInt)._2
    assert(got(9)._3 >= t)
  }

  test("q296: run counts and size models replay; the advisor picks the min") {
    val got = graft.operators.SchemaOps.q296EncodingAdvisor(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getString(9))).toMap
    assert(got.keySet == Set("okey", "line", "partkey", "rfc", "day"))
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("CAST(l_orderkey AS BIGINT)", "CAST(l_linenumber AS BIGINT)",
        "CAST(l_partkey AS BIGINT)", "CAST(ascii(l_returnflag) AS BIGINT)",
        "CAST(datediff(l_shipdate, DATE '1992-01-01') AS BIGINT)")
      .collect().map(r => (0 to 4).map(r.getLong))
      .sortBy(t => (t(0), t(1), t(2), t(3), t(4)))
    def bits(x: Long): Long =
      if (x <= 0L) 0L else 64L - java.lang.Long.numberOfLeadingZeros(x)
    Seq("okey", "line", "partkey", "rfc", "day").zipWithIndex.foreach {
      case (c, i) =>
        val vs: Vector[Long] = rows.map(_(i)).toVector
        val runs = 1L + vs.sliding(2).count {
          case Seq(a, b) => a != b
          case _ => false
        }
        val (n, ndv, mx) = (vs.length.toLong, vs.distinct.length.toLong, vs.max)
        val (w, cw) = (bits(mx), if (ndv <= 1) 0L else bits(ndv - 1))
        val (plain, dict, rle) =
          (n * w, n * cw + ndv * w, runs * (cw + 16L) + ndv * w)
        val best = if (plain <= dict && plain <= rle) "plain"
                   else if (dict <= rle) "dict" else "rle_dict"
        assert(got(c) == ((n, ndv, runs, w, cw, plain, dict, rle, best)), c)
    }
    // the three verdicts genuinely differ across this table's columns
    assert(got.values.map(_._9).toSet.size >= 2)
  }

  test("q290: lineage digests replay from the shard SET; taint marks exactly shard 7") {
    import graft.functions.Fingerprint
    val got = graft.operators.SchemaOps.q290WhyProvenance(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("CAST(l_partkey AS BIGINT)", "CAST(l_suppkey AS BIGINT) % 64",
        "CAST(round(l_extendedprice * 100) AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byPart = rows.groupBy(_._1)
    assert(got.keySet == byPart.keySet)
    byPart.foreach { case (pk, rs) =>
      val shards = rs.map(_._2).toSet
      val (rev, n, ns, mn, mx, xor, taint) = got(pk)
      assert(rev == rs.map(_._3).sum && n == rs.length.toLong)
      assert(ns == shards.size.toLong && mn == shards.min && mx == shards.max)
      // the digest is a SET xor: duplication of a shard's rows is invisible
      assert(xor == shards.map(sh => Fingerprint.hashString(s"shard:$sh"))
        .foldLeft(0L)(_ ^ _))
      assert(taint == (if (shards.contains(7L)) 1L else 0L))
    }
    // the incidence is genuinely sparse and the blame set is non-trivial
    assert(got.values.map(_._3).max < 64L)
    val tainted = got.values.count(_._7 == 1L)
    assert(tainted > 0 && tainted < got.size)
  }

  test("q274: the container parser agrees with ImageIO and catches corruption") {
    val got = graft.ops.MultimodalOps.q274PngProbe(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got.size == 500)
    got.foreach { case (id, (w, h, bd, ct, il, sig, crc)) =>
      assert(w == id % 16 + 4 && h == id % 9 + 3, s"dims $id")
      assert(bd == 8L && ct == 2L && il == 0L && sig == 1L && crc == 1L, s"$id")
    }
    // two independent implementations agree: our chunk walk vs ImageIO
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val p = bos.toByteArray
    def be32(o: Int): Long = ((p(o) & 0xff).toLong << 24) |
      ((p(o + 1) & 0xff) << 16) | ((p(o + 2) & 0xff) << 8) | (p(o + 3) & 0xff)
    assert(be32(16) == 7L && be32(20) == 5L) // IHDR width/height fields
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(p))
    assert(back.getWidth == 7 && back.getHeight == 5)
    // corruption is caught: flip one IHDR data byte, the stored CRC no
    // longer matches a recomputed one
    val crcStored = be32(8 + 4 + 13)
    p(16) = (p(16) ^ 1).toByte
    val crc = new java.util.zip.CRC32()
    crc.update(p, 12, 17)
    assert(crc.getValue != crcStored)
  }

  test("q272: key->attribute FDs hold; reverse directions measure violations") {
    val got = graft.operators.SchemaOps.q272FdDiscovery(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got.size == graft.operators.SchemaOps.FdPairs.size)
    // the four true key->attribute determinations all hold
    Seq("nation.n_nationkey" -> "nation.n_regionkey",
      "customer.c_custkey" -> "customer.c_nationkey",
      "supplier.s_suppkey" -> "supplier.s_nationkey",
      "orders.o_orderkey" -> "orders.o_custkey").foreach { p =>
      assert(got(p)._5 == 1L, s"true FD $p not detected")
      assert(got(p)._1 == got(p)._2 && got(p)._3 == 1L, s"FD $p inconsistent")
    }
    // a region holds many nations: the reverse direction must fail with
    // a measured multiplicity
    val rev = got(("nation.n_regionkey", "nation.n_nationkey"))
    assert(rev._5 == 0L && rev._3 > 1L && rev._4 < 1000000L)
    // fact-table pairs: an order spans parts and suppliers
    assert(got(("lineitem.l_orderkey", "lineitem.l_partkey"))._5 == 0L)
    // internal consistency on every row: ppm math, verdict, bounds —
    // any in-sample extra FD is data truth (q263's rule)
    got.foreach { case (p, (nl, np, mx, ppm, fd)) =>
      assert(np >= nl && ppm == nl * 1000000L / np, s"$p")
      assert((fd == 1L) == (np == nl) && (fd == 1L) == (mx == 1L), s"$p")
    }
  }

  test("q264: homoglyph spoofs flag; single-script and cross-word mixing do not") {
    import graft.ops.TextOps
    val got = TextOps.q264ScriptMix(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // plants: spoofed words flag (exactly one each), everything else silent
    assert(got(-501L)._6 == 0L)
    assert(got(-502L)._5 == 1L && got(-502L)._6 == 1L) // Cyrillic а in a Latin word
    assert(got(-503L)._6 == 0L && got(-503L)._3 > 0L)  // legit Cyrillic text
    assert(got(-504L)._5 == 1L && got(-504L)._6 == 1L) // Greek ρ in a Latin word
    assert(got(-505L)._6 == 0L && got(-505L)._4 > 0L)  // legit CJK text
    assert(got(-506L)._6 == 0L && got(-506L)._1 > 0L && got(-506L)._3 > 0L) // cross-word mix
    // script counts replay in pure Scala over the plants
    TextOps.ScriptPlant.foreach { case (id, t) =>
      def cnt(lo: Int, hi: Int) =
        t.codePoints().filter(p => p >= lo && p <= hi).count()
      val (la, gr, cy, cj, _, _) = got(id)
      assert(la == t.codePoints().filter(p =>
        (p >= 'A' && p <= 'Z') || (p >= 'a' && p <= 'z')).count(), s"latin $id")
      assert(gr == cnt(0x370, 0x3FF), s"greek $id")
      assert(cy == cnt(0x400, 0x4FF), s"cyrillic $id")
      assert(cj == cnt(0x4E00, 0x9FFF), s"cjk $id")
    }
    // the ASCII corpus itself carries no spoofs and no non-Latin scripts
    val real = got.filter(_._1 >= 0L)
    assert(real.nonEmpty && real.values.forall(v =>
      v._6 == 0L && v._2 == 0L && v._3 == 0L && v._4 == 0L))
  }

  test("q265: skeleton folding collides exactly the homoglyph-masked twins") {
    import graft.ops.TextOps
    // the map is a bijection-shaped table: equal lengths, Latin targets
    assert(TextOps.ConfusablesFrom.length == TextOps.ConfusablesTo.length)
    assert(TextOps.ConfusablesTo.forall(_ < 128))
    assert(TextOps.ConfusablesFrom.forall(_ >= 128))
    def skeleton(t: String): String = {
      val nfc = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
      nfc.map { c =>
        val i = TextOps.ConfusablesFrom.indexOf(c)
        if (i >= 0) TextOps.ConfusablesTo(i) else c
      }
    }
    val plant = TextOps.ScriptPlant.toMap
    // the spoofed docs really skeleton-collide with their Latin twins
    assert(skeleton(plant(-502L)) == plant(-501L))
    assert(skeleton(plant(-504L)) == plant(-507L))
    val got = TextOps.q265SkeletonDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(-502L -> (2L, 2L), -507L -> (2L, 2L)), s"got $got")
    // and the collisions are invisible to NFC alone (q256's rung): the
    // two legs differ per pair, which is exactly n_nfc_variants = 2
    assert(plant(-502L) != plant(-501L) && plant(-504L) != plant(-507L))
  }

  test("q266: markup strip replays in pure Scala; order-critical cases hold") {
    import graft.ops.TextOps
    def visible(t2: String): String = {
      var x = t2.replaceAll("(?s)<script[^>]*>.*?</script>", " ")
      x = x.replaceAll("(?s)<style[^>]*>.*?</style>", " ")
      x = x.replaceAll("(?s)<!--.*?-->", " ")
      x = x.replaceAll("<[^>]*>", " ")
      TextOps.EntityMap.foreach { case (e, c) => x = x.replace(e, c) }
      x.replaceAll("[ \t\n\r]+", " ").trim
    }
    // the order-critical wrapper cases, checked against hand-derived text
    assert(visible("<script type=\"t\">var x = 1<2;</script>T<!-- <b>h</b> -->")
      == "T") // bare < inside script; tags inside a comment
    assert(visible("A &amp;lt; B") == "A &lt; B") // double-escape stays text
    assert(visible("S &bogus; E") == "S &bogus; E") // near-miss untouched
    assert(visible("<a href=\"https://x.example/p\">read</a> W") == "read W")
    assert(visible("&#x2603;") == "☃")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    val got = TextOps.q266MarkupStrip(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, text) =>
      val (p, q) = TextOps.MarkupWrap((id % 6).toInt)
      val t2 = p + text + q
      val vis = visible(t2)
      val (nRaw, nText, _, _, fp) = got(id)
      assert(nRaw == t2.codePointCount(0, t2.length).toLong, s"n_raw $id")
      assert(nText == vis.codePointCount(0, vis.length).toLong, s"n_text $id")
      assert(fp == refHash(vis), s"fp $id")
    }
    // every class-3 doc drops its whole wrapper; class-4 docs decode
    // 9 planted entity references (&amp;lt; counts its &amp; once)
    got.foreach { case (id, (_, _, nTags, nEnt, _)) =>
      if (id % 6 == 3) assert(nTags == 0L, s"script/comment leak $id")
      if (id % 6 == 4) assert(nEnt == 9L, s"entities $id")
      if (id % 6 == 0) assert(nTags == 0L && nEnt == 0L, s"control $id")
    }
  }

  test("q267: line boilerplate strips footers, keeps rare lines; replay agrees") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("")))
    // driver replay of the plant + threshold + strip + reassembly
    def t2(id: Long, src: String, text: String): String =
      text + s"\n(C) $src syndication network" +
        (if (id % 3 != 2) s"\nsubscribe at $src daily digest" else "") +
        (if (id % 29 == 0) s"\neditor note ${id % 7}" else "")
    val all = docs.map { case (id, src, tx) => (id, src, t2(id, src, tx)) }
    val srcN = all.groupBy(_._2).view.mapValues(_.size).toMap
    val df = all.flatMap { case (id, src, t) =>
      t.split("\n", -1).distinct.map(ln => (src, ln) -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    def isBoiler(src: String, ln: String): Boolean =
      df((src, ln)) >= 2 && df((src, ln)) * 1000000L / srcN(src) >= 200000L
    val expect = all.groupBy(_._2).map { case (src, rows) =>
      val per = rows.map { case (_, _, t) =>
        val ls = t.split("\n", -1)
        val (rm, kp) = ls.partition(isBoiler(src, _))
        (ls.length.toLong, rm.length.toLong, rm.map(_.length.toLong).sum,
          refHash(kp.mkString("\n")))
      }
      val boiler = rows.flatMap(_._3.split("\n", -1)).distinct
        .count(isBoiler(src, _)).toLong
      src -> (rows.size.toLong, per.map(_._1).sum, boiler,
        per.map(_._2).sum, per.map(_._3).sum,
        per.map(_._4).reduce(_ ^ _))
    }
    val got = graft.ops.DedupOps.q267LineBoilerplate(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got == expect, s"per-source mismatch")
    // the planted structure: both footers strip everywhere (100% / ~67%
    // df), the rare editor note and every content line survive
    all.foreach { case (id, src, _) =>
      assert(isBoiler(src, s"(C) $src syndication network"))
      assert(isBoiler(src, s"subscribe at $src daily digest"))
      if (id % 29 == 0) assert(!isBoiler(src, s"editor note ${id % 7}"))
    }
  }

  test("q268: block-aligned reorders collide; one-word-off and exact dups do not") {
    import graft.ops.DedupOps
    // signature replay: 8-word chunks, per-chunk refHash, xor/sum/count
    def sig(t: String): (Int, Long, Long) = {
      val w = t.split(" ", -1)
      val fps = w.grouped(8).map(g => refHash(g.mkString(" "))).toSeq
      (fps.size, fps.foldLeft(0L)(_ ^ _), fps.sum)
    }
    val plant = DedupOps.PermPlant.toMap
    assert(sig(plant(-601L)) == sig(plant(-602L)))
    assert(sig(plant(-601L)) == sig(plant(-604L)))
    assert(sig(plant(-601L)) != sig(plant(-603L))) // one-word-off control
    assert(sig(plant(-607L)) == sig(plant(-608L))) // non-ASCII pair
    assert(plant(-607L) != plant(-608L))
    val got = DedupOps.q268PermutationDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exactly two groups surface; the exact-dup pair (-605/-606, one raw
    // variant) and the corpus (all-distinct signatures) stay silent
    assert(got == Map(-604L -> (3L, 3L), -608L -> (2L, 2L)), s"got $got")
  }

  test("q269: canonicalization folds every planted noise feature; odd ports stay") {
    // driver replay of the plant + canonical recipe
    def canon(id: Long): String = {
      val k = (id % 40) * 2654435761L % 40
      val m = id % 7
      val port = if (id % 11 == 0) ":8443" else ""
      s"https://site$k.example.org$port/p/$m?id=$m&ref=a"
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val expect = docs.groupBy(canon).collect {
      case (c, ids) if ids.length >= 2 => c -> ids.length.toLong
    }
    val got = graft.ops.TextOps.q269UrlCanonical(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got.view.mapValues(_._1).toMap == expect.toMap, "group sizes")
    // canonical urls carry none of the planted noise...
    got.keys.foreach { c =>
      assert(!c.contains("utm_") && !c.contains("fbclid") &&
        !c.contains("#") && !c.contains(":443") && !c.contains("Site"))
      assert(c.startsWith("https://site"))
    }
    // ...yet raw variants really differed inside the groups (case, port,
    // param order, tracking, fragment noise is id-dependent)
    assert(got.values.exists(_._2 >= 2))
  }

  test("q270: planted excerpts pair with their sources at exact containment") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    // driver replay: distinct 5-gram sets, df<=64 cap, both thresholds
    def grams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val excerpts = docs.collect { case (id, t) if id % 37 == 0 =>
      (-id - 1000L) -> t.split(" ", -1).take(16).mkString(" ") }
    val all = docs ++ excerpts
    val df = all.values.toSeq.flatMap(grams(_).toSeq)
      .groupBy(identity).view.mapValues(_.size).toMap
    val capped = all.view.mapValues(grams(_).filter(df(_) <= 64)).toMap
    val got = graft.ops.DedupOps.q270ContainmentDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // every reported pair satisfies the thresholds under the replay
    got.foreach { case ((e, h), (ge, gh, sh, ppm)) =>
      assert(capped(e).size.toLong == ge && capped(h).size.toLong == gh)
      assert((capped(e) & capped(h)).size.toLong == sh)
      assert(sh >= 8 && ge * 2 <= gh && ppm == sh * 1000000L / ge)
    }
    // every QUALIFYING plant is found, paired with its true source, at
    // exactly 1e6 ppm (an excerpt's grams are source grams by
    // construction); non-qualifying plants (too short / ratio) are absent
    excerpts.foreach { case (eid, _) =>
      val src = -eid - 1000L
      val (ce, cs) = (capped(eid), capped(src))
      val qualifies = (ce & cs).size >= 8 && ce.size * 2 <= cs.size &&
        (ce & cs).size * 1000000L / ce.size >= 900000L
      val found = got.keys.filter(_._1 == eid).toSeq
      if (qualifies) {
        assert(found.map(_._2).contains(src), s"plant $eid missed")
        assert(got((eid, src))._4 == 1000000L, s"plant $eid not exact")
      } else assert(!found.map(_._2).contains(src))
    }
    assert(got.nonEmpty)
  }

  test("graft_dot matches the aggregate/zip_with fold bit-for-bit") {
    import spark.implicits._
    graft.functions.DotProduct.register(spark)
    val df = Seq(
      (Seq(1.5, -2.25, 3.125), Seq(0.5, 4.0, -1.0)),
      (Seq(0.1, 0.2, 0.3), Seq(0.7, 0.8, 0.9)))
      .toDF("a", "b")
      .selectExpr("graft_dot(a, b) AS fast",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x) AS slow")
      .collect()
    df.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // null semantics mirror zip_with: length mismatch and null inputs -> null
    val edge = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(1.0D)) AS mismatch,
        |       graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS nullarr,
        |       graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS nullelem
        |""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
  }

  test("graft_dist2 and graft_dot_l match the aggregate/zip_with folds bit-for-bit") {
    import spark.implicits._
    graft.functions.SquaredDistance.register(spark)
    val df = Seq(
      (Seq(5L, -3L, 1000000L), Seq(2L, 4L, -999999L)),
      (Seq(0L, 0L, 0L), Seq(7L, -7L, 7L)))
      .toDF("a", "b")
      .selectExpr(
        "graft_dist2(a, b) AS d_fast",
        "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v) AS d_slow",
        "graft_dot_l(a, b) AS p_fast",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS p_slow")
      .collect()
    df.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getLong(2) == r.getLong(3))
    }
    // null semantics mirror zip_with: length mismatch and null inputs -> null
    val edge = spark.sql(
      """SELECT graft_dist2(array(1L, 2L), array(1L)) AS mismatch,
        |       graft_dist2(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS nullarr,
        |       graft_dot_l(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) AS nullelem
        |""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
  }

  test("graft_sorted_inter_n equals array_intersect size on sorted inputs") {
    import spark.implicits._
    graft.functions.SortedIntersectSize.register(spark)
    val rows = Seq(
      (Seq("a", "b", "c", "x"), Seq("b", "c", "z")),
      (Seq("a"), Seq("b")),
      (Seq[String](), Seq("a")),
      (Seq("m", "n"), Seq("m", "n")))
      .toDF("a", "b")
      .selectExpr("graft_sorted_inter_n(a, b) AS fast",
        "CAST(size(array_intersect(a, b)) AS BIGINT) AS slow").collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // bigint element variant + null input
    val lr = spark.sql(
      """SELECT graft_sorted_inter_n(array(1L, 5L, 9L), array(5L, 9L, 11L)) AS n,
        |       graft_sorted_inter_n(CAST(NULL AS ARRAY<STRING>), array('a')) AS nn,
        |       graft_sorted_inter_n(array('a', CAST(NULL AS STRING)), array('a', 'b')) AS ne
        |""".stripMargin).collect().head
    assert(lr.getLong(0) == 2L && lr.isNullAt(1))
    assert(lr.isNullAt(2), "null element must yield NULL, not NPE")
    // a TRAILING null (array_sort's null position) past the point where the
    // shorter side is exhausted must still yield NULL, not a count
    val tr = spark.sql(
      """SELECT graft_sorted_inter_n(array('a'), array('a', 'b', CAST(NULL AS STRING))) AS t1,
        |       graft_sorted_inter_n(array(1L, 2L, CAST(NULL AS BIGINT)), array(1L)) AS t2
        |""".stripMargin).collect().head
    assert(tr.isNullAt(0) && tr.isNullAt(1),
      "trailing NULL element beyond the merge scan must yield NULL")
  }

  test("exact dedup accounts for every document") {
    val rows = DedupOps.q32DedupExact(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == 500L)
    // n_docs - n_distinct == n_dup_docs per group
    rows.foreach(r => assert(r.getLong(1) - r.getLong(2) == r.getLong(3)))
  }

  test("minhash candidates are genuinely similar (est vs true Jaccard)") {
    import spark.implicits._
    val cands = DedupOps.q34DedupMinhash(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cands.nonEmpty, "expected some near-dup candidates")
    // true word-set Jaccard of accepted pairs should be nontrivial
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "array_distinct(split(text, ' ')) AS ws")
      .as[(Long, Seq[String])].collect().toMap
    val jaccs = cands.toSeq.map { case (a, b) =>
      val (wa, wb) = (docs(a).toSet, docs(b).toSet)
      wa.intersect(wb).size.toDouble / wa.union(wb).size
    }
    assert(jaccs.min > 0.2, s"weak pair accepted: min J=${jaccs.min}")
  }

  test("LSH ANN returns subsets of brute-force scores") {
    import spark.implicits._
    val brute = SimilarityOps.q37CosineTopk(spark, sf)
      .select($"q_id", $"neighbor_id", $"cos")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val lsh = SimilarityOps.q38AnnLsh(spark, sf)
      .select($"q_id", $"neighbor_id", $"cos")
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty, "LSH produced no candidates")
    // any LSH pair that is also a brute-force top-5 pair must carry the
    // identical cosine (same arithmetic, same data)
    lsh.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(bc => assert(bc == c, s"cos mismatch for ($q,$n)"))
    }
  }

  test("multimodal pipeline is deterministic and length-correct") {
    import spark.implicits._
    val a = MultimodalOps.q40Multimodal(spark, sf).collect()
    val b = MultimodalOps.q40Multimodal(spark, sf).collect()
    assert(a.sameElements(b))
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "length(text) AS n").as[(Long, Int)].collect().toMap
    a.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_bytes")) == texts(r.getLong(0)).toLong)
    }
  }

  test("image codec: real PNG/BMP payloads decode, others fall back to stub") {
    import MultimodalOps.{ImageCodec, MediaRow, StubDecoder}
    // a real 5x3 PNG and BMP, encoded by the JVM itself
    for (fmt <- Seq("png", "bmp")) {
      val img = new java.awt.image.BufferedImage(
        5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(4, 2, 0x123456)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      val row = MediaRow(7L, "image", bos.toByteArray)
      val feats = ImageCodec.decode(row)
      assert(feats.isDefined, s"$fmt did not decode")
      assert(feats.get.width == 5L && feats.get.height == 3L)
      assert(feats.get.n_frames == 1L && feats.get.n_sampled_frames == 1L)
      // determinism: decoding the same payload twice gives the same row
      assert(ImageCodec.decode(row) == feats)
    }
    // resize rule matches the stub's integer arithmetic on a big image
    val big = new java.awt.image.BufferedImage(
      640, 360, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(big, "png", bos)
    val bf = ImageCodec.decode(MediaRow(1L, "image", bos.toByteArray)).get
    assert((bf.out_width, bf.out_height) == (224L, 360L * 224L / 640L))
    // non-image payloads sniff negative and take the stub
    val text = MediaRow(3L, "image", "just some text".getBytes("UTF-8"))
    assert(ImageCodec.decode(text).isEmpty)
    assert(StubDecoder.decode(text).n_bytes == 14L)
    // corrupt bitstream: magic number present, body garbage → stub fallback
    val corrupt = MediaRow(4L, "image",
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3))
    assert(ImageCodec.decode(corrupt).isEmpty)
  }

  test("q222 image decode round-trips the arithmetic test card") {
    import spark.implicits._
    val rows = MultimodalOps.q222ImageDecode(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      assert(r.getLong(r.fieldIndex("width")) == id % 13 + 1)
      assert(r.getLong(r.fieldIndex("height")) == id % 7 + 1)
      var expect = 0L
      for (j <- 0 until (id % 7 + 1).toInt; i <- 0 until (id % 13 + 1).toInt)
        expect += 3L * ((id + 31L * i + 17L * j) % 256L)
      assert(r.getLong(r.fieldIndex("pixel_sum")) == expect, s"doc $id")
      assert(r.getString(r.fieldIndex("fmt")) ==
        (if (id % 2 == 0) "png" else "bmp"))
    }
  }

  test("q230 jpeg/gif decode: gif exact, jpeg dims exact + fidelity bound") {
    import MultimodalOps.ImageCodec
    val rows = MultimodalOps.q230JpegGifDecode(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      val w = (id % 13 + 1).toInt
      val h = (id % 7 + 5).toInt
      assert(r.getLong(r.fieldIndex("width")) == w.toLong)
      assert(r.getLong(r.fieldIndex("height")) == h.toLong)
      if (id % 2 == 0) {
        assert(r.getString(r.fieldIndex("fmt")) == "jpeg")
        assert(r.getLong(r.fieldIndex("pixel_sum")) == -1L)
      } else {
        assert(r.getString(r.fieldIndex("fmt")) == "gif")
        var expect = 0L
        for (j <- 0 until h; i <- 0 until w)
          expect += 3L * ((id + 31L * i + 17L * j) % 256L)
        assert(r.getLong(r.fieldIndex("pixel_sum")) == expect, s"doc $id")
      }
    }
    // JPEG is lossy, so the oracle only gates dims — the pixel-level
    // fidelity bound lives here: mean absolute deviation per channel on
    // the wrap-heavy test card stays under 64 (DCT ringing on the mod-256
    // discontinuities is the worst case; a broken decoder is ~85+ against
    // a mid-gray guess)
    javax.imageio.ImageIO.setUseCache(false)
    for (id <- Seq(0L, 2L, 48L)) {
      val w = (id % 13 + 1).toInt
      val h = (id % 7 + 5).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (j <- 0 until h; i <- 0 until w) {
        val g = ((id + 31L * i + 17L * j) % 256L).toInt
        img.setRGB(i, j, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", bos)
      assert(ImageCodec.isJpeg(bos.toByteArray))
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      var dev = 0L
      for (j <- 0 until h; i <- 0 until w) {
        val g = ((id + 31L * i + 17L * j) % 256L).toInt
        dev += math.abs((back.getRGB(i, j) & 0xff) - g)
      }
      assert(dev / (w * h) < 64L, s"jpeg mean abs dev ${dev / (w * h)} for id $id")
    }
    // the new magic gates route real bitstreams and reject text
    assert(!ImageCodec.isJpeg("plain".getBytes) && !ImageCodec.isGif("plain".getBytes))
  }

  test("q231 packing sweep matches a driver ceil-division replay") {
    import spark.implicits._
    val lens = graft.sources.Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")).cast("long"))
      .as[Long].collect()
    val rows = graft.ops.PipelineOps.q231PackingEfficiency(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("capacity")).toSeq == Seq(128L, 512L, 2048L))
    rows.foreach { r =>
      val c = r.getAs[Long]("capacity")
      val padW = lens.map(n => (n + c - 1) / c).sum
      val total = lens.sum
      assert(r.getAs[Long]("n_docs") == lens.length.toLong)
      assert(r.getAs[Long]("total_tokens") == total)
      assert(r.getAs[Long]("pad_windows") == padW)
      assert(r.getAs[Long]("pad_waste") == padW * c - total)
      assert(r.getAs[Long]("pad_waste_ppm") == (padW * c - total) * 1000000L / (padW * c))
      val catW = (total + c - 1) / c
      assert(r.getAs[Long]("concat_windows") == catW)
      assert(r.getAs[Long]("concat_waste") == catW * c - total)
      // concat waste is at most one window's tail; pad waste never beats it
      assert(r.getAs[Long]("concat_waste") < c)
      assert(r.getAs[Long]("pad_waste") >= r.getAs[Long]("concat_waste"))
    }
  }

  test("q232 winnowing matches a driver replay and keeps the coverage guarantee") {
    import spark.implicits._
    def grams(ws: Array[String]): Array[Long] = {
      val hs = ws.map(refHash)
      (0 to hs.length - 4).map(i =>
        hs.slice(i, i + 4).foldLeft(0L)((a, h) => (a * 31 + h) % 1000000007L)).toArray
    }
    def select(g: Array[Long]): Set[Long] =
      (0 to g.length - 4).map(i => g.slice(i, i + 4).min).toSet
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1) }
      .filter(_._2.length >= 7).toMap
    val got = graft.ops.DedupOps.q232Winnowing(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_windows"),
          r.getAs[Long]("n_selected"), r.getAs[Long]("density_ppm"))).toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, ws) =>
      val g = grams(ws)
      val sel = select(g)
      val (ng, nw, nsel, dens) = got(id)
      assert(ng == g.length.toLong && nw == g.length.toLong - 3)
      assert(nsel == sel.size.toLong, s"doc $id")
      assert(dens == sel.size.toLong * 1000000L / (g.length - 3))
    }
    // the published winnowing guarantee on a planted shared run: two word
    // streams sharing a w+k-1 = 7-token substring share a fingerprint
    val shared = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    val a = Array("one", "two", "three") ++ shared ++ Array("four")
    val b = Array("five", "six") ++ shared ++ Array("seven", "eight", "nine")
    assert(select(grams(a)).intersect(select(grams(b))).nonEmpty)
  }

  test("q233 threshold sweep reconciles with q34's pair table") {
    import spark.implicits._
    val pairs = DedupOps.q34DedupMinhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_b"), r.getAs[Long]("n_match")))
    val rows = DedupOps.q233ThresholdSensitivity(spark, sf).collect()
      .map(r => r.getAs[Long]("threshold") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_dropped"))).toMap
    (6L to 12L).foreach { k =>
      val qual = pairs.filter(_._2 >= k)
      if (qual.nonEmpty) {
        assert(rows(k)._1 == qual.length.toLong, s"k=$k")
        assert(rows(k)._2 == qual.map(_._1).distinct.length.toLong, s"k=$k")
      } else assert(!rows.contains(k))
    }
    // aggressiveness is monotone: raising the threshold never drops more
    val ks = rows.keys.toSeq.sorted
    ks.sliding(2).foreach {
      case Seq(a, b) =>
        assert(rows(a)._1 >= rows(b)._1 && rows(a)._2 >= rows(b)._2)
      case _ =>
    }
  }

  test("q234 perplexity buckets reconcile with q107 and a driver rank replay") {
    import spark.implicits._
    val scored = graft.ops.CorpusOps.q107BigramLm(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("avg_predict_ppm")))
    val src = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    val n = scored.length.toLong
    val expected = scored.sortBy(t => (t._3, t._1)).zipWithIndex
      .map { case ((id, np, sc), i) => ((i.toLong * 10) / n, src(id), np, sc) }
      .groupBy(t => (t._1, t._2))
      .map { case ((dec, s), rows) =>
        (dec, s) -> (rows.length.toLong, rows.map(_._3).sum,
          rows.map(_._4).min, rows.map(_._4).max) }
    val got = graft.ops.CorpusOps.q234PerplexityBuckets(spark, sf).collect()
      .map(r => (r.getAs[Long]("decile"), r.getAs[String]("source")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("min_score_ppm"), r.getAs[Long]("max_score_ppm"))).toMap
    assert(got == expected)
    // every decile holds n/10 +- 1 docs in total (total-order ranking)
    val perDec = got.groupBy(_._1._1).view.mapValues(_.values.map(_._1).sum)
    perDec.foreach { case (d, c) =>
      assert(math.abs(c - n / 10) <= 1L + n % 10, s"decile $d holds $c of $n") }
  }

  test("q235 CDC chunks tile the token array and re-align across an edit") {
    import spark.implicits._
    def perWord(ws: Array[String]): Array[Long] = ws.map(refHash)
    def gram4(hs: Array[Long], i: Int): Long =
      hs.slice(i, i + 4).foldLeft(0L)((a, h) => (a * 31 + h) % 1000000007L)
    def cuts(hs: Array[Long]): Seq[Int] =
      ((0 to hs.length - 4).collect { case i if gram4(hs, i) % 16 == 0 => i + 4 }
        :+ hs.length).distinct.sorted
    def fps(hs: Array[Long]): Seq[Long] = {
      val cs = cuts(hs)
      cs.indices.map { j =>
        val st = if (j == 0) 0 else cs(j - 1)
        val sl = hs.slice(st, cs(j))
        sl.foldLeft(0L)((a, h) => (a * 31 + h) % 1000000007L) * 2147483648L +
          sl.foldLeft(0L)((a, h) => (a * 37 + h) % 999999937L)
      }
    }
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1) }
      .filter(_._2.length >= 4).toMap
    val got = graft.ops.DedupOps.q235CdcChunking(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_chunks"))).toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, ws) =>
      val hs = perWord(ws)
      assert(got(id) == (hs.length.toLong, cuts(hs).length.toLong), s"doc $id")
      // chunks tile: spans sum to the token count
      assert(cuts(hs).last == hs.length)
    }
    // the CDC property: after a PREFIX edit, boundaries downstream
    // re-align, so the tail chunks keep identical fingerprints (a
    // fixed-size chunker would shift every boundary after the edit)
    val tail = (1 to 60).map(i => s"w${i % 17}x$i").toArray
    val a = perWord(Array("edit", "here") ++ tail)
    val b = perWord(Array("completely", "different", "prefix", "words") ++ tail)
    val common = fps(a).toSet.intersect(fps(b).toSet)
    assert(common.nonEmpty, "no re-aligned chunk after a prefix edit")
  }

  test("q236 winnowing recall certificate: the guarantee holds live") {
    val r = graft.ops.DedupOps.q236WinnowRecall(spark, sf).collect()(0)
    val (t, i, m, e) = (r.getAs[Long]("n_truth_pairs"),
      r.getAs[Long]("n_index_pairs"), r.getAs[Long]("n_missed"),
      r.getAs[Long]("n_extra"))
    // the theorem: every >= w+k-1-token shared run surfaces in the index
    assert(m == 0L, s"winnowing guarantee violated: $m missed of $t")
    // algebra: index = (truth - missed) + extra
    assert(i == t - m + e)
    // non-vacuous on this corpus (q224's planted boilerplate rides the
    // sampled docs too)
    assert(t > 0L && i > 0L)
  }

  test("minhash tolerates documents with fewer than 3 words (ADVICE r1)") {
    import spark.implicits._
    // Under ANSI mode the unguarded shingle range indexed ws[-1] and threw
    // INVALID_ARRAY_INDEX for short docs; they must instead be excluded.
    val dir = java.nio.file.Files.createTempDirectory("minhash_short").toString
    val base = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val shorts = Seq(
      (900001L, "hi", "en", "web", 2L),
      (900002L, "one two", "en", "web", 7L),
      (900003L, "", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    base.unionAll(shorts).write.parquet(s"$dir/documents.parquet")
    val pairs = DedupOps.q34DedupMinhash(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(!pairs.exists(p => p._1 >= 900001L || p._2 >= 900001L),
      "short docs must not appear as near-dup candidates")
    // and the full suite on the augmented corpus matches the unaugmented one
    val origPairs = DedupOps.q34DedupMinhash(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.toSet == origPairs)
  }

  test("neardup leakage: planted cross-split near-dup twin is flagged") {
    import spark.implicits._
    // plant BOTH sides (q81's planted-ground-truth rule): a fresh EVAL doc
    // with vocabulary foreign to the corpus, and a lightly-edited
    // TRAIN-side twin (one appended word — high Jaccard, not
    // byte-identical, so only the NEAR-dup audit can catch it). The split
    // fingerprint is deterministic, so ids are searched until each lands
    // on its intended side.
    val base = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val evalText = ("qqa qqb qqc qqd qqe qqf qqg qqh qqi qqj qqk qql").trim
    val twinText = evalText + " zzzz"
    val fpOf = (s: String) => {
      var acc = 0L
      s.getBytes("UTF-8").foreach(b => acc = (acc * 31 + (b & 0xff)) % 1000000007L)
      acc
    }
    val evalId = (900101L to 900400L)
      .find(id => fpOf(evalText + id.toString) % 10 == 9).get
    val twinId = (900401L to 900700L)
      .find(id => fpOf(twinText + id.toString) % 10 != 9).get
    val dir = java.nio.file.Files.createTempDirectory("neardup_leak").toString
    base.unionAll(Seq(
        (evalId, evalText, "en", "planted", evalText.length.toLong),
        (twinId, twinText, "en", "planted", twinText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val before = DedupOps.q223NeardupLeakage(spark, sf)
      .select($"lang", $"n_eval", $"n_neardup_leaked")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val after = DedupOps.q223NeardupLeakage(spark, dir)
      .select($"lang", $"n_eval", $"n_neardup_leaked")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // exactly one new eval doc, and it is near-dup-leaked by its twin
    assert(after("en")._1 == before("en")._1 + 1, s"before=$before after=$after")
    assert(after("en")._2 == before("en")._2 + 1,
      s"planted near-dup twin not flagged: before=$before after=$after")
    // the unplanted languages are untouched by the plant
    (before.keySet - "en").foreach { l =>
      assert(after.getOrElse(l, (0L, 0L)) == before(l), s"lang $l drifted")
    }
  }

  test("dedup clusters: local union-find equals distributed label propagation") {
    val local = DedupOps.dedupClusters(spark, sf, localThreshold = Long.MaxValue)
      .collect().map(_.toString).sorted
    val dist = DedupOps.dedupClusters(spark, sf, localThreshold = 0L)
      .collect().map(_.toString).sorted
    assert(local.nonEmpty && local.sameElements(dist))
  }

  test("asof join matches a brute-force per-click scan") {
    import spark.implicits._
    import graft.ops.EventOps
    val got = EventOps.q51AsofJoin(spark, sf)
      .select("user_id", "click_id", "err_id")
      .as[(Long, Long, Option[Long])].collect()
    assert(got.nonEmpty)
    // brute force on the raw table
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_id", "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
      .as[(Long, Long, String, Long)].collect()
    val errByUser = ev.filter(_._3 == "error").groupBy(_._1)
    got.foreach { case (u, cid, eid) =>
      val click = ev.find(e => e._1 == u && e._2 == cid).get
      val best = errByUser.getOrElse(u, Array.empty)
        .filter(_._4 <= click._4)
        .sortBy(e => (-e._4, -e._2)).headOption.map(_._2)
      assert(eid == best, s"user $u click $cid")
    }
  }

  test("sessionization: sessions tile each user's event stream") {
    import spark.implicits._
    import graft.ops.EventOps
    val sess = EventOps.q54Sessionize(spark, sf)
      .select("user_id", "sess_idx", "n_events", "duration_us")
      .as[(Long, Long, Long, Long)].collect()
    val total = graft.sources.Tables.load(spark, sf, "events").count()
    assert(sess.map(_._3).sum == total, "every event in exactly one session")
    sess.groupBy(_._1).foreach { case (_, ss) =>
      val idx = ss.map(_._2).sorted
      assert(idx.head == 1L && idx.last == idx.length, "contiguous session indexes")
    }
    assert(sess.forall(_._4 >= 0))
  }

  test("chat contracts: conversations reconcile with q54 sessions; plants audited") {
    import spark.implicits._
    import graft.ops.EventOps
    val rows = EventOps.q311ChatContracts(spark, sf).collect()
    def row(u: Long, c: Long) =
      rows.find(r => r.getLong(0) == u && r.getLong(1) == c).get
    // reconciliation: for REAL users the conversation segmentation is
    // EXACTLY q54's sessionization — same per-user session count.
    val convPerUser = rows.filter(_.getLong(0) >= 0)
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val sessPerUser = EventOps.q54Sessionize(spark, sf)
      .select("user_id", "sess_idx").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.length).toMap
    assert(convPerUser == sessPerUser,
      "q311 conversations must segment exactly like q54 sessions")
    // planted contract violations (disjoint -701..-706 user range)
    val clean = row(-701L, 1L)
    assert(clean.getAs[Long]("contract_ok") == 1L &&
      clean.getAs[Long]("n_turns") == 4L &&
      clean.getAs[Long]("n_user_turns") == 2L &&
      clean.getAs[Long]("n_assistant_turns") == 2L)
    assert(row(-702L, 1L).getAs[Long]("n_same_role_pairs") == 1L)
    assert(row(-702L, 1L).getAs[Long]("contract_ok") == 0L)
    assert(row(-703L, 1L).getAs[Long]("n_empty_turns") == 1L)
    assert(row(-704L, 1L).getAs[Long]("opener_bad") == 1L)
    assert(row(-704L, 1L).getAs[Long]("dangling_tail") == 0L)
    val pii = row(-705L, 1L)
    assert(pii.getAs[Long]("dangling_tail") == 1L &&
      pii.getAs[Long]("n_pii_turns") == 1L)
    assert(row(-706L, 1L).getAs[Long]("n_secret_turns") == 1L)
    val tail = row(-706L, 2L) // >30-min gap split a second conversation
    assert(tail.getAs[Long]("n_turns") == 1L &&
      tail.getAs[Long]("dangling_tail") == 1L &&
      tail.getAs[Long]("opener_bad") == 0L)
    // ordered-assembly fingerprint: driver replay of -701's transcript
    val transcript = Seq("user:{\"q\": 1}", "assistant:{\"a\": 1}",
      "user:{\"q\": 2}", "assistant:{\"a\": 2}").mkString("\n")
    val expected = transcript.getBytes("UTF-8")
      .foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    assert(clean.getAs[Long]("transcript_fp") == expected,
      "transcript fingerprint must replay the ordered role-tagged turns")
  }

  test("q314: LSH plan scores replay exactly; the S-curve tradeoff is monotone") {
    import graft.functions.Fingerprint
    val got = graft.ops.DedupOps.q314LshPlan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // monotone tradeoff in band count: more bands -> more collisions
    // (fp nondecreasing), fewer misses (fn nonincreasing)
    val byBands = got.sortBy(_._1)
    assert(byBands.map(_._3).sliding(2).forall(w =>
      w.length < 2 || w(0) <= w(1)), "fp must be nondecreasing in n_bands")
    assert(byBands.map(_._4).sliding(2).forall(w =>
      w.length < 2 || w(0) >= w(1)), "fn must be nonincreasing in n_bands")
    assert(got.filter(_._6 == 1L).map(_._5).distinct.length == 1)
    assert(got.filter(_._6 == 1L).head._5 == got.map(_._5).min)
    // full driver replay: q213's sample, exact 3-gram Jaccard density,
    // integer multiply-truncate S-curve
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val k = math.max(1L, docs.length.toLong / 500L)
    val sets = docs.collect {
      case (id, t) if id % k == 0 && t.split(" ", -1).length >= 3 =>
        val ws = t.split(" ", -1)
        ws.sliding(3).map(g => Fingerprint.hashString(g.mkString(" ")))
          .toArray.distinct.sorted
    }
    def inter(a: Array[Long], b: Array[Long]): Long = {
      var (i, j, n) = (0, 0, 0L)
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1 else j += 1
      }
      n
    }
    val hist = new Array[Long](50)
    for (i <- sets.indices; j <- (i + 1) until sets.length) {
      val in = inter(sets(i), sets(j))
      val un = sets(i).length + sets(j).length - in
      hist(math.min(49L, in * 1000000L / un / 20000L).toInt) += 1L
    }
    val wTotal = hist.map(_ + 1L).sum
    val plans = Seq(1 -> 48, 2 -> 24, 3 -> 16, 4 -> 12, 6 -> 8,
      8 -> 6, 12 -> 4, 16 -> 3, 24 -> 2, 48 -> 1)
    val expect = plans.map { case (nb, rp) =>
      var fp = 0L; var fn = 0L
      (0 until 50).foreach { bd =>
        val w = hist(bd) + 1L
        val mid = bd * 20000L + 10000L
        val p = graft.ops.DedupOps.sCurvePpm(mid, nb, rp)
        if (mid < 800000L) fp += w * p else fn += w * (1000000L - p)
      }
      (nb.toLong, rp.toLong, fp / wTotal, fn / wTotal)
    }
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq == expect)
    // the reference S-curve point (checked against the published formula)
    assert(graft.ops.DedupOps.sCurvePpm(850000L, 6, 8) == 851737L)
  }

  test("q317: executing the planned LSH knee dominates both budget extremes") {
    val got = graft.ops.DedupOps.q317LshPlanExec(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    val wide = got((1L, 48L)); val knee = got((6L, 8L)); val tall = got((48L, 1L))
    assert(got.size == 3 && wide._2 > 0L, "truth pairs must exist")
    // candidates can never exceed... and TP never exceeds truth or cands
    got.values.foreach { case (cand, truth, tp, _, _) =>
      assert(tp <= truth && tp <= cand)
    }
    // the planner's prediction, confirmed by execution: the knee is at
    // least as good as BOTH extremes on BOTH metrics, and each extreme
    // collapses on its predicted axis
    assert(knee._4 >= wide._4 && knee._4 >= tall._4, "knee precision")
    assert(knee._5 >= wide._5 && knee._5 >= tall._5, "knee recall")
    assert(wide._5 < knee._5, "1x48 must miss true duplicates (recall collapse)")
    assert(tall._4 < knee._4 / 10L,
      "48x1 must flood the verifier (precision collapse)")
    // reconciliation: q314's chosen plan IS the executed knee
    val best = graft.ops.DedupOps.q314LshPlan(spark, sf).collect()
      .filter(_.getLong(5) == 1L).map(r => (r.getLong(0), r.getLong(1)))
    assert(best.contains((6L, 8L)),
      "the executed knee must be the plan q314 marked best")
  }

  test("q319: KM curve replays from raw events; monotone; censoring respected") {
    import spark.implicits._
    val got = graft.ops.EventOps.q319SurvivalKm(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    // survival is non-increasing and at-risk strictly decreases
    got.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._5 <= a._5, "survival must be non-increasing")
        assert(b._2 < a._2, "at-risk must shrink")
      case _ =>
    }
    // independent replay from raw events
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
      .as[(Long, String, Long)].collect()
    val hz = evs.map(_._3).max
    val t0 = evs.filter(_._2 == "signup").groupBy(_._1).view
      .mapValues(_.map(_._3).min).toMap
    val tp = evs.filter(_._2 == "purchase")
      .filter(e => t0.get(e._1).exists(e._3 >= _))
      .groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val d = 86400000000L
    // t0.toSeq first: Map#map with pair results would RE-KEY by day and
    // collapse users (the Map#collect trap from CLAUDE.md, again)
    val obs = t0.toSeq.map { case (u, t) =>
      tp.get(u) match {
        case Some(p) => ((p - t) / d, true)
        case None => ((hz - t) / d, false)
      }
    }
    var risk = obs.size.toLong
    var surv = 1000000L
    val expect = obs.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (day, os) =>
        val dI = os.count(_._2).toLong
        val cI = os.count(!_._2).toLong
        val out = if (dI > 0) {
          surv = surv * (risk - dI) / risk
          Some((day, risk, dI, cI, surv))
        } else None
        risk -= dI + cI
        out
    }
    assert(got.toSeq == expect)
    // every conversion is counted exactly once; at-risk day 0 covers
    // every signed-up user (converting or censored)
    assert(got.map(_._3).sum == obs.count(_._2).toLong)
    assert(got.head._2 == obs.size.toLong)
  }

  test("range join covers every order at most once") {
    import spark.implicits._
    import graft.operators.Relational
    val bands = Relational.q52RangeJoin(spark, sf)
      .select("n_orders").as[Long].collect()
    val inRange = graft.sources.Tables.load(spark, sf, "orders")
      .filter("CAST(round(o_totalprice*100) AS BIGINT) < 60000000").count()
    assert(bands.sum == inRange)
    // DOMAIN-COVERAGE CANARY: q52's band table tops out at 600,000.00 —
    // an order at or past the cap would silently vanish from the inner
    // range join on BOTH engines (the oracle gate cannot flag what the
    // engines agree on). Fail loudly here the day the corpus outgrows
    // the table so the band list gets extended, not silently truncated.
    val total = graft.sources.Tables.load(spark, sf, "orders").count()
    assert(total == inRange,
      s"${total - inRange} orders at/above the q52 band cap (600000.00): " +
        "extend the band table in Relational.q52RangeJoin")
  }

  test("q33 general-vocab (distributed dictionary) path equals the bitmask path") {
    import graft.ops.DedupOps
    // the test corpus vocabulary (31 words) always takes the bitmask
    // branch; forcing bitmaskMaxVocab = 0 exercises the GlobalOrder
    // dictionary + long-merge branch, which must be output-identical
    val viaB = DedupOps.q33DedupJaccard(spark, sf).collect().map(_.toSeq).toSeq
    val viaD = DedupOps.dedupJaccard(spark, sf, bitmaskMaxVocab = 0)
      .collect().map(_.toSeq).toSeq
    assert(viaD == viaB)
    assert(viaB.nonEmpty)
  }

  test("ngram jaccard pairs meet the 0.6 threshold exactly") {
    import spark.implicits._
    import graft.ops.DedupOps
    val pairs = DedupOps.q53NgramJaccard(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    pairs.foreach { case (a, b, i, u) =>
      assert(a < b && a % 10 == 0 && b % 10 == 0)
      assert(i * 5 >= u * 3, s"pair ($a,$b) below threshold")
    }
  }

  test("trigram packing is injective: distinct trigrams get distinct codes") {
    import spark.implicits._
    // 'aaa' vs 'abB' collide under base-31 packing (97*31+97 == 98*31+66);
    // the base-256 pack must keep every distinct byte-trigram distinct
    val texts = Seq("aaaXabB", "zz zz.Z9!", "The quick, brown FOX")
    val codes = texts.toDF("text").selectExpr(
      """transform(sequence(1, length(text) - 2),
        |  i -> named_struct(
        |    't', substring(text, i, 3),
        |    'c', CAST(ascii(substring(text, i, 1)) * 65536
        |            + ascii(substring(text, i + 1, 1)) * 256
        |            + ascii(substring(text, i + 2, 1)) AS BIGINT))) AS tc""".stripMargin)
      .selectExpr("explode(tc) AS p").select($"p.t", $"p.c")
      .as[(String, Long)].collect()
    val byCode = codes.groupBy(_._2).view.mapValues(_.map(_._1).distinct)
    byCode.foreach { case (c, ts) =>
      assert(ts.length == 1, s"code $c maps to ${ts.mkString("/")}")
    }
    val byTri = codes.groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    byTri.foreach { case (t, cs) => assert(cs.length == 1, s"trigram $t") }
  }

  test("stratified sample is deterministic and ~20% per stratum") {
    import spark.implicits._
    import graft.ops.TextOps
    val s1 = TextOps.q55StratifiedSample(spark, sf).collect().map(_.toSeq)
    val s2 = TextOps.q55StratifiedSample(spark, sf).collect().map(_.toSeq)
    assert(s1.toSeq == s2.toSeq, "content-hash sampling must be replayable")
    s1.foreach { r =>
      val (total, sampled) = (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])
      assert(sampled <= total && sampled > 0)
    }
  }

  test("IVF ANN probes only the query's own cluster") {
    import spark.implicits._
    import graft.ops.SimilarityOps
    val rows = SimilarityOps.q56IvfAnn(spark, sf)
      .select("q_id", "rk", "neighbor_id", "cluster")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (q, rk, n, c) =>
      q >= 8 && q < 18 && n >= 18 && rk >= 1 && rk <= 3 && c >= 0 && c < 8 })
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1L to rs.length))
    }
  }

  test("JSON mutator expressions follow MySQL semantics") {
    graft.functions.JsonFunctions.register(spark)
    def one(sql: String): String = {
      val r = spark.sql(s"SELECT $sql AS v").collect().head
      if (r.isNullAt(0)) null else r.getString(0)
    }
    // SET: create + replace; INSERT: no clobber; REPLACE: only existing
    assert(one("""graft_json_set('{"a":1}', '$.b', 2)""") == """{"a":1,"b":2}""")
    assert(one("""graft_json_set('{"a":1}', '$.a', 9)""") == """{"a":9}""")
    assert(one("""graft_json_insert('{"a":1}', '$.a', 9)""") == """{"a":1}""")
    assert(one("""graft_json_replace('{"a":1}', '$.b', 9)""") == """{"a":1}""")
    assert(one("""graft_json_remove('{"a":1,"b":2}', '$.b')""") == """{"a":1}""")
    // nested paths and array indexes
    assert(one("""graft_json_set('{"a":{"b":[1,2]}}', '$.a.b[0]', 7)""") ==
      """{"a":{"b":[7,2]}}""")
    assert(one("""graft_json_set('{"a":[1]}', '$.a[5]', 2)""") == """{"a":[1,2]}""")
    // array_append wraps non-arrays (MySQL behavior), including at root '$'
    assert(one("""graft_json_array_append('{"a":[1]}', '$.a', 2)""") == """{"a":[1,2]}""")
    assert(one("""graft_json_array_append('{"a":1}', '$.a', 2)""") == """{"a":[1,2]}""")
    assert(one("""graft_json_array_append('[1,2]', '$', 3)""") == """[1,2,3]""")
    assert(one("""graft_json_array_append('{"a":1}', '$', 2)""") == """[{"a":1},2]""")
    // merge_patch: RFC 7386 (null deletes, objects recurse)
    assert(one("""graft_json_merge_patch('{"a":1,"b":{"x":1}}', '{"a":null,"b":{"y":2}}')""") ==
      """{"b":{"x":1,"y":2}}""")
    // merge_preserve: arrays/scalars concatenate, objects union
    assert(one("""graft_json_merge_preserve('{"a":1}', '{"a":2,"b":3}')""") ==
      """{"a":[1,2],"b":3}""")
    // invalid json / bad path -> NULL
    assert(one("""graft_json_set('not json', '$.a', 1)""") == null)
    assert(one("""graft_json_set('{"a":1}', 'a.b', 1)""") == null)
  }

  test("approx aggregates stay inside their error envelopes") {
    import graft.operators.Relational
    val rows = Relational.q60ApproxStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ec = r.getLong(r.fieldIndex("exact_custs"))
      val em2 = r.getLong(r.fieldIndex("exact_median_x2"))
      assert(ec > 0 && em2 > 0)
      // the operator's self-calibration: HLL and t-digest both verified
      // inside the 5% band against the exact one-pass values
      assert(r.getBoolean(r.fieldIndex("custs_ok")),
        s"HLL count outside 5% of exact $ec")
      assert(r.getBoolean(r.fieldIndex("median_ok")),
        s"t-digest median outside 5% of exact x2 $em2")
    }
  }

  test("bucketed join plans without exchanges under the join") {
    import graft.operators.BucketedOps
    val df = BucketedOps.q59BucketedJoin(spark, sf)
    assert(df.count() > 0)
    // simple mode shows one plan (formatted under AQE prints initial+final
    // and doubles every count)
    def exchanges(d: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(d.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))).size
    // same query over the unbucketed parquet tables needs two extra
    // exchanges (one per join side); bucketing eliminates exactly those.
    // Broadcast is disabled so the tiny test tables plan the same SMJ the
    // big-data case would — broadcast joins never consult bucket layout.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val bucketed = exchanges(BucketedOps.bucketedJoinPlan(spark))
      val plain = {
        import spark.implicits._
        import org.apache.spark.sql.functions._
        val o = graft.sources.Tables.load(spark, sf, "orders")
        val c = graft.sources.Tables.load(spark, sf, "customer")
        exchanges(o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy($"c_mktsegment"))
      }
      assert(bucketed == plain - 2,
        s"bucketed=$bucketed plain=$plain: bucket layout must remove both join shuffles")
    } finally spark.conf.set(thresholdKey, saved)
  }

  test("simhash of near-identical docs differs in few bits") {
    import spark.implicits._
    val sh = TextOps.q35Simhash(spark, sf)
      .as[(Long, Long)].collect().toMap
    // pairs that q33 (exact Jaccard >= 0.8) accepts should have close simhashes
    val pairs = DedupOps.q33DedupJaccard(spark, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].limit(50).collect()
    assert(pairs.nonEmpty)
    val dists = pairs.map { case (a, b) =>
      java.lang.Long.bitCount(sh(a) ^ sh(b))
    }
    // 16-bit simhash: similar docs should average well under half the bits
    assert(dists.sum.toDouble / dists.length < 8.0)
  }

  test("audio windows: driver replay of the energy fold and tiling") {
    import spark.implicits._
    val rows = MultimodalOps.q184AudioWindows(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id",
        org.apache.spark.sql.functions.coalesce($"text",
          org.apache.spark.sql.functions.lit("")).as("t"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getString(1)).toMap
    rows.foreach { r =>
      val p = texts(r.getAs[Long]("doc_id")).getBytes("UTF-8")
      val nw = if (p.length < 256) 0 else (p.length - 256) / 128 + 1
      val es = (0 until nw).map { j =>
        (j * 128 until j * 128 + 256).map { i =>
          val d = (p(i) & 0xff) - 128; (d * d).toLong }.sum
      }
      assert(r.getAs[Long]("n_samples") == p.length.toLong)
      assert(r.getAs[Long]("n_windows") == nw.toLong)
      if (nw > 0) {
        assert(r.getAs[Long]("max_energy") == es.max)
        assert(r.getAs[Long]("max_energy_win") == es.indexOf(es.max).toLong)
        assert(r.getAs[Long]("mean_energy") == es.sum / nw)
        assert(r.getAs[Long]("n_silent") == es.count(_ < 25600L).toLong)
      } else {
        assert(r.getAs[Long]("max_energy_win") == -1L)
      }
    }
    // hop-128 windows tile: consecutive windows overlap by exactly 128
    // samples — implied by the index arithmetic the replay just verified
  }

  test("frame dedup: driver replay of 64-byte frame fingerprints") {
    import spark.implicits._
    val rows = MultimodalOps.q185FrameDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    def fp(s0: String): Long =
      s0.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id",
        org.apache.spark.sql.functions.coalesce($"text",
          org.apache.spark.sql.functions.lit("")).as("t"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getString(1)).toMap
    rows.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id"))
      val frames = t.grouped(64).map(fp).toSeq
      assert(r.getAs[Long]("n_frames") == frames.length.toLong)
      assert(r.getAs[Long]("n_distinct") == frames.distinct.length.toLong)
      assert(r.getAs[Long]("dup_ppm") ==
        (frames.length - frames.distinct.length).toLong * 1000000L / frames.length)
    }
  }

  test("q224 repeated-span coverage matches a driver interval-union replay") {
    import spark.implicits._
    val bp = "shared boilerplate footer all rights reserved contact us terms of service apply"
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) ->
        (if (r.getLong(0) % 9 == 0) r.getString(1) + " " + bp else r.getString(1)))
      .toMap
    // driver replay: gram keys composed from per-word hashes by the same
    // TWO 0-seeded (a*m + h) % p folds packed fp1*2^31 + fp2 (the ~2^60
    // collision-safe key), cross-doc repeated set, per-doc interval union
    def gramKey(hs: Array[Long]): Long =
      hs.foldLeft(0L)((a, h) => (a * 31 + h) % 1000000007L) * 2147483648L +
        hs.foldLeft(0L)((a, h) => (a * 37 + h) % 999999937L)
    val grams = docs.toSeq.flatMap { case (id, t) =>
      val hs = t.split(" ", -1).map(refHash)
      if (hs.length < 8) Seq.empty
      else (0 to hs.length - 8).map(i =>
        (id, i + 1, gramKey(hs.slice(i, i + 8)), hs.length))
    }
    val rep = grams.map(g => (g._3, g._1)).distinct.groupBy(_._1)
      .collect { case (fpv, ds) if ds.length >= 2 => fpv }.toSet
    val expected = grams.filter(g => rep(g._3)).groupBy(_._1).map {
      case (id, hs) =>
        val iv = hs.map(h => (h._2.toLong, h._2.toLong + 7L)).sortBy(_._1)
        val merged = iv.tail.foldLeft(List(iv.head)) { case (acc, (s0, e0)) =>
          // adjacency merges too (s0 == prev_end + 1): contiguous covered
          // runs are one maximal span
          if (s0 <= acc.head._2 + 1) (acc.head._1, acc.head._2.max(e0)) :: acc.tail
          else (s0, e0) :: acc
        }
        id -> (merged.length.toLong,
          merged.map(m => m._2 - m._1 + 1L).sum, hs.head._4.toLong)
    }
    val got = DedupOps.q224RepeatedSpans(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_spans"),
        r.getAs[Long]("covered_tokens"), r.getAs[Long]("n_tokens"))).toMap
    assert(got == expected, s"${got.size} vs ${expected.size} docs with spans")
    // every planted doc reports coverage at least the 12-token suffix
    docs.keys.filter(_ % 9 == 0).foreach { id =>
      assert(got.contains(id) && got(id)._2 >= 12L,
        s"planted boilerplate not covered for doc $id: ${got.get(id)}")
    }
  }

  test("q228 audio decode: WAV round trip matches the arithmetic expectation") {
    val rows = MultimodalOps.q228AudioDecode(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = id % 240 + 16
      val samples = (0L until n).map(i => (7L * id + 13L * i) % 256L)
      assert(r.getAs[Long]("n_samples") == n)
      assert(r.getAs[Long]("sample_rate") == 8000L)
      assert(r.getAs[Long]("sample_sum") == samples.sum)
      assert(r.getAs[Long]("energy") ==
        samples.map(v => (v - 128L) * (v - 128L)).sum)
    }
  }

  test("AudioCodec rejects non-WAV payloads instead of throwing") {
    assert(MultimodalOps.AudioCodec.decode(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(MultimodalOps.AudioCodec.decode(
      "not audio at all".getBytes("UTF-8")).isEmpty)
  }

  test("q229 SemDeDup: planted twins are clustered with their originals and dropped") {
    import spark.implicits._
    val ids = graft.sources.Tables.load(spark, sf, "embeddings")
      .select($"vec_id").as[Long].collect()
    val nPlanted = ids.count(_ % 10 == 0).toLong
    val rows = DedupOps.q229SemDedup(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getAs[Long]("n_members")).sum == ids.length + nPlanted)
    assert(rows.map(_.getAs[Long]("n_planted")).sum == nPlanted)
    // an exact twin lands in its original's cluster (identical distances,
    // deterministic tie-break) and always forms a >=0.95 pair, so every
    // cluster drops at least its planted members
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dropped") >= r.getAs[Long]("n_planted"),
        s"cluster ${r.getAs[Long]("cluster_id")}: ${r.mkString(",")}")
      assert(r.getAs[Long]("drop_ppm") ==
        r.getAs[Long]("n_dropped") * 1000000L / r.getAs[Long]("n_members"))
    }
    // deterministic end-to-end: the iterative trainer + pair stage
    // reproduce bit-identically
    val again = DedupOps.q229SemDedup(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("image pHash: planted visual twins are recovered; exact twins hash 0") {
    import spark.implicits._
    val pairs = graft.ops.MultimodalOps.q251ImagePhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    // every planted twin (id ≡ 7 mod 10 renders id−5's card with one
    // pixel bumped) must be recovered at a SMALL hamming distance —
    // unless the card has zero contrast at the sample grid, which the
    // operator excludes by design (flat images carry no perceptual
    // evidence). Verify exclusions really are contrast-free, not missed.
    val ids = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id").as[Long].collect()
    val twins = ids.filter(id => id % 10 == 7 && ids.contains(id - 5))
    assert(twins.nonEmpty)
    def card(base: Long, w: Int, h: Int, bump: Boolean): Array[Long] = {
      val s = new Array[Long](64)
      for (k <- 0 until 64) {
        val x = (k % 8) * w / 8; val y = (k / 8) * h / 8
        var g = Math.floorMod(
          Math.floorMod(base, 256L) * (2L * x + 3L * y + 5L)
            + 7L * x * x + 11L * y * y, 256L)
        if (bump && x == 0 && y == 0) g = (g + 1) % 256
        s(k) = g
      }
      s
    }
    def flat(s: Array[Long]): Boolean = {
      val tot = s.sum
      s.forall(v => 64L * v <= tot)
    }
    var found = 0
    twins.foreach { id =>
      val base = id - 5
      val w = (Math.floorMod(base, 13L) + 1).toInt
      val h = (Math.floorMod(base, 7L) + 1).toInt
      val isFlat = flat(card(base, w, h, bump = false)) ||
        flat(card(base, w, h, bump = true))
      pairs.get((base, id)) match {
        case Some(d) => assert(d <= 3, s"twin ($base,$id) at distance $d")
                        found += 1
        case None => assert(isFlat, s"twin ($base,$id) missed with contrast")
      }
    }
    assert(found > twins.length / 2, s"only $found of ${twins.length} twins")
  }

  test("q323: nDCG grades the stack — exact pins 1e6, MMR/RRF land in their bands, a blind leg pays") {
    import spark.implicits._
    def byName(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val base = byName(SimilarityOps.q323NdcgGrade(spark, sf))
    // exact ranking's grades are monotone in its own rank -> nDCG is
    // EXACTLY 1e6 by construction (the sanity anchor)
    assert(base("exact")._4 == 1000000L)
    assert(base("exact")._1 == 10L && base("rrf")._1 == 10L &&
      base("mmr")._1 == 5L)
    base.values.foreach { case (_, dcg, idcg, _) => assert(dcg <= idcg) }
    // measured at sf0.001: mmr 960960 (diversification costs < 10% of
    // ideal relevance), rrf 391519 (the lexical leg pulls the fused list
    // off the embedding-defined relevance — the insight the grade exists
    // to surface). Bands stated with headroom.
    assert(base("mmr")._4 >= 900000L, s"mmr ${base("mmr")._4}")
    assert(base("rrf")._4 >= 300000L && base("rrf")._4 < 1000000L,
      s"rrf ${base("rrf")._4}")
    // planted graded-relevance truth: three near-query vectors (negative
    // ids, no documents rows) become the true top-3 (grade 3). The
    // lexical leg cannot see them, and RRF's inner fusion drops them ->
    // its nDCG must fall below the unplanted run; exact stays pinned.
    val dir = java.nio.file.Files.createTempDirectory("ndcg_plant").toString
    graft.sources.Tables.load(spark, sf, "documents")
      .write.parquet(s"$dir/documents.parquet")
    val e0 = graft.sources.Tables.load(spark, sf, "embeddings")
    val qv = e0.filter($"vec_id" === 0L).select($"embedding")
      .collect().head.getSeq[Float](0).toArray
    val plants = Seq(-11L, -12L, -13L).zipWithIndex.map { case (id, i) =>
      val v = qv.clone(); v(i) = v(i) + 0.005f * (i + 1)
      (id, v.toSeq, 0)
    }
    e0.select($"vec_id", $"embedding", $"label")
      .unionAll(plants.toDF("vec_id", "embedding", "label")
        .select($"vec_id", $"embedding".cast("array<float>"), $"label"))
      .write.parquet(s"$dir/embeddings.parquet")
    val planted = byName(SimilarityOps.q323NdcgGrade(spark, dir))
    assert(planted("exact")._4 == 1000000L)
    assert(planted("rrf")._4 < base("rrf")._4,
      s"planted rrf ${planted("rrf")._4} vs base ${base("rrf")._4}")
  }

  test("q328: planted xx twins align mutual-best to their en originals; alignment is injective") {
    import spark.implicits._
    val rows = SimilarityOps.q328BitextMine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4),
        r.getLong(5)))
    assert(rows.nonEmpty)
    // mutual-best makes the alignment injective on BOTH sides
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.map(_._3).distinct.length == rows.length)
    rows.foreach { case (_, _, _, _, m) => assert(m > 0L) }
    // every emitted planted twin must recover exactly its original
    // (twin id = -orig - 1, ±1-milli perturbation -> d² ≤ 64 dims · 4)
    val xx = rows.filter(_._2 == "xx")
    assert(xx.nonEmpty)
    xx.foreach { case (sid, _, tid, d2, _) =>
      assert(tid == -sid - 1L, s"twin $sid aligned to $tid")
      assert(d2 <= 256L, s"twin $sid d2=$d2")
    }
    // non-vacuity both ways: natural cross-lingual pairs align too
    assert(rows.exists(_._2 != "xx"))
    // and the twin population is substantially recovered (boundary
    // cluster flips are the only escape)
    val planted = graft.sources.Tables.load(spark, sf, "documents")
      .filter($"lang" === "en" && $"doc_id" % 10 === 3)
      .join(graft.sources.Tables.load(spark, sf, "embeddings")
        .select($"vec_id".as("doc_id")), Seq("doc_id"))
      .count()
    assert(xx.length * 10L >= planted * 9L, s"${xx.length} of $planted")
  }

  test("q327: every planted selection rule resolves as designed; contracts hold on all pairs") {
    val rows = graft.ops.EventOps.q327PreferencePairs(spark, sf).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    // -801: clean 3-candidate pair, extremes picked, margin exact
    val p801 = byUser(-801L).head
    assert(p801.getAs[Long]("n_candidates") == 3L)
    assert(p801.getAs[Long]("chosen_id") == -80104L)
    assert(p801.getAs[Long]("rejected_id") == -80102L)
    assert(p801.getAs[Long]("margin_cents") == 400L)
    assert(p801.getAs[Long]("pii_prompt") == 0L)
    // -805: valid pair whose prompt carries PII -> flagged, not dropped
    val p805 = byUser(-805L).head
    assert(p805.getAs[Long]("pii_prompt") == 1L)
    assert(p805.getAs[Long]("chosen_id") == -80503L &&
      p805.getAs[Long]("rejected_id") == -80502L)
    // drops: tie at max, single candidate, identical texts, no prompt
    Seq(-802L, -803L, -804L, -806L).foreach { u =>
      assert(!byUser.contains(u), s"user $u must yield no pair")
    }
    // contracts on EVERY emitted pair (planted and natural alike)
    rows.foreach { r =>
      assert(r.getAs[Long]("margin_cents") ==
        r.getAs[Long]("chosen_cents") - r.getAs[Long]("rejected_cents"))
      assert(r.getAs[Long]("margin_cents") > 0L)
      assert(r.getAs[Long]("chosen_id") != r.getAs[Long]("rejected_id"))
      assert(r.getAs[Long]("n_candidates") >= 2L)
    }
  }

  test("q325: applied BPE reconciles with the trainer; fully-merged plant pins fertility at 1e6") {
    import spark.implicits._
    // cross-operator reconciliation: the SAME corpus through q320 and
    // q325 — the apply pass's global token total must equal the
    // trainer's final tokens_after exactly (the dictionary IS the
    // trained symbolization, so nothing can drift between them)
    val train = TextOps.q320BpeTrain(spark, sf).collect()
    val apply = TextOps.q325BpeApply(spark, sf).collect()
    val tokensAfter = train.last.getAs[Long]("tokens_after")
    assert(apply.map(_.getAs[Long]("n_bpe_tokens")).sum == tokensAfter)
    // fertility never below 1 token/word, never above chars/word
    apply.foreach { r =>
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("n_bpe_tokens") <= r.getAs[Long]("n_chars"))
      assert(r.getAs[Long]("fertility_ppm") >= 1000000L)
    }
    // planted corpus where every word fully merges within 30 rounds
    // (q320's 9-merge corpus): BPE emits exactly one token per word ->
    // fertility is EXACTLY 1e6 and chars_per_token = chars_per_word
    val words = List.fill(5)("aaab") ++ List.fill(4)("abab") ++
      List.fill(3)("cdcd") ++ List.fill(2)("aaaa") ++
      List.fill(7)("xy") ++ List.fill(7)("xz")
    val text = words.mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("bpe_apply_plant").toString
    Seq((-1L, text, "en", "planted", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val planted = TextOps.q325BpeApply(spark, dir).collect()
    assert(planted.length == 1)
    val p = planted.head
    assert(p.getAs[Long]("n_words") == words.length.toLong)
    assert(p.getAs[Long]("n_bpe_tokens") == words.length.toLong)
    assert(p.getAs[Long]("fertility_ppm") == 1000000L)
    assert(p.getAs[Long]("n_chars") == words.map(_.length.toLong).sum)
  }

  test("q325: broadcast and escalated shuffle-join branches are row-identical") {
    // the counted threshold branch (q50's driver/distributed pattern):
    // threshold 0 forces the loud-logged shuffle-join escalation; the
    // report must not depend on the join strategy
    def rows(thr: Long) = TextOps.bpeApplyReport(spark, sf, thr).collect()
      .map(r => (0 until r.length).map(i => r.get(i)).toList).toList
    assert(rows(Long.MaxValue) == rows(0L))
  }

  test("q335: broadcast and escalated shuffle-join branches are row-identical") {
    // same counted-branch contract as q325: threshold 0 forces the
    // loud-logged shuffle-join escalation on the holdout type dictionary
    def rows(thr: Long) =
      TextOps.bpeEncodeHoldoutReport(spark, sf, thr).collect()
        .map(r => (0 until r.length).map(i => r.get(i)).toList).toList
    assert(rows(Long.MaxValue) == rows(0L))
  }

  test("q333: group folds never split a dup cluster; naive folds measurably do") {
    import spark.implicits._
    val rows = DedupOps.q333GroupFolds(spark, sf).collect()
    val nClusters = DedupOps.q50DedupClusters(spark, sf)
      .select($"canonical_id").distinct().count()
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    // both assignments partition the corpus
    assert(rows.map(_.getAs[Long]("n_docs_naive")).sum == nDocs)
    assert(rows.map(_.getAs[Long]("n_docs_group")).sum == nDocs)
    // THE theorem: under group assignment every dup cluster touches
    // exactly one fold, so the per-fold cluster counts sum to the
    // cluster count exactly; naive assignment overcounts by one per
    // split cluster — and on this corpus it does split
    val sumGroup = rows.map(_.getAs[Long]("n_dup_clusters_group")).sum
    val sumNaive = rows.map(_.getAs[Long]("n_dup_clusters_naive")).sum
    assert(sumGroup == nClusters, s"group $sumGroup vs $nClusters")
    assert(sumNaive > nClusters,
      s"naive must split at least one cluster ($sumNaive vs $nClusters)")
    // no empty folds at this corpus size
    assert(rows.length == 5 &&
      rows.forall(_.getAs[Long]("n_docs_group") > 0L))
  }

  test("q322: planted cross-label paraphrase trios are pruned to one survivor per trio") {
    import spark.implicits._
    val out = DedupOps.q322SemanticPrune(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(4),
        r.getLong(5), r.getLong(3))).toMap
    val origs = out.keys.filter(id => id >= 0 && id % 10 == 7).toSeq.sorted
    assert(origs.nonEmpty)
    var resolved = 0
    origs.foreach { o =>
      val trio = Seq(o, -o - 1, -o - 100001).map(id => id -> out(id))
      // rotated labels: pairwise distinct — a label-blocked dedup (q36's
      // shape) can never compare any two members of this trio
      assert(trio.map(_._2._1).distinct.size == 3, s"trio $o labels")
      if (trio.map(_._2._2).distinct.size == 1) { // all in one cluster
        resolved += 1
        assert(trio.map(_._2._3).sum == 1L, s"trio $o must keep exactly one")
        trio.filter(_._2._3 == 0L).foreach { case (id, (_, _, _, head, _)) =>
          assert(trio.exists(_._1 == head),
            s"pruned $id must attribute to its own trio, got head $head")
        }
      }
    }
    // ±1-milli paraphrases must land in their original's cluster in the
    // overwhelming majority of cases (boundary flips are possible in
    // principle; zero observed at sf0.001 and sf0.01)
    assert(resolved * 10 >= origs.size * 9, s"only $resolved of ${origs.size}")
    // every kept member heads itself; every pruned member heads a
    // strictly higher-priority (d2 DESC, vec_id ASC) same-cluster member
    out.foreach { case (id, (_, cid, kept, head, d2)) =>
      if (kept == 1L) assert(head == id)
      else {
        val (_, hcid, _, _, hd2) = out(head)
        assert(hcid == cid && head != id, s"$id head $head")
        assert(hd2 > d2 || (hd2 == d2 && head < id), s"$id head $head priority")
      }
    }
  }

  test("q320 distributed trainer matches the property-tested driver trainer on fuzzed dictionaries") {
    import spark.implicits._
    // cross-implementation equivalence: the distributed full-vocab loop
    // and q226's pure driver trainer implement the SAME greedy BPE
    // ((count desc, left, right) argmax, left-to-right non-overlapping
    // application) — seeded fuzz dictionaries must train identically,
    // merge-for-merge, including early stops
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { t =>
      val words = (1 to (3 + rnd.nextInt(8))).map { _ =>
        (1 to (1 + rnd.nextInt(8)))
          .map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
      }.distinct
      val dict = words.map(w => (w, 1L + rnd.nextInt(50).toLong)).toList
      val want = graft.ops.CorpusOps.learnMerges(dict, 6)
      val got = TextOps.bpeTrainRows(spark, dict.toDF("word", "c"), 6)
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(4)))
      assert(got == want, s"trial $t dict $dict:\n$got\nvs\n$want")
    }
  }

  test("q320: planted corpus forces the known BPE merge order, tie-break, run parity, early stop") {
    import spark.implicits._
    // Hand-computed ground truth. Word frequencies:
    //   aaab x5, abab x4, cdcd x3, aaaa x2, xy x7, xz x7  (84 tokens).
    // Round 1 must pick (a,a) with pair count 16 but GREEDILY merge only
    // 9 sites (aaab has 2 overlapping (a,a) pairs but 1 merge; aaaa has
    // 3 pairs but 2 merges) — the run-parity case. Rounds 3/4 pin the
    // tie-break: (x,y) and (x,z) both count 7, byte order picks y first.
    // After round 9 every word is a single symbol -> early stop at 9
    // rows even though 12 merges were requested.
    val wf = Seq(("aaab", 5L), ("abab", 4L), ("cdcd", 3L), ("aaaa", 2L),
      ("xy", 7L), ("xz", 7L)).toDF("word", "c")
    val got = TextOps.bpeTrainRows(spark, wf, 12)
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val want = Seq(
      (1L, "a", "a", "aa", 16L, 9L, 75L, 8L),
      (2L, "a", "b", "ab", 13L, 13L, 62L, 7L),
      (3L, "x", "y", "xy", 7L, 7L, 55L, 7L),
      (4L, "x", "z", "xz", 7L, 7L, 48L, 6L),
      (5L, "c", "d", "cd", 6L, 6L, 42L, 5L),
      (6L, "aa", "ab", "aaab", 5L, 5L, 37L, 6L),
      (7L, "ab", "ab", "abab", 4L, 4L, 33L, 6L),
      (8L, "cd", "cd", "cdcd", 3L, 3L, 30L, 6L),
      (9L, "aa", "aa", "aaaa", 2L, 2L, 28L, 6L))
    assert(got == want, s"got:\n${got.mkString("\n")}")
  }

  test("q320 end-to-end on a planted documents dir matches the driver replay") {
    import spark.implicits._
    // The corpus fold (split/filter/groupBy) feeds the same loop: one
    // planted doc whose space-joined text realizes the frequencies above.
    val words = List.fill(5)("aaab") ++ List.fill(4)("abab") ++
      List.fill(3)("cdcd") ++ List.fill(2)("aaaa") ++
      List.fill(7)("xy") ++ List.fill(7)("xz")
    val text = words.mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("bpe_plant").toString
    Seq((-1L, text, "en", "planted", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.q320BpeTrain(spark, dir)
      .select($"merge_idx", $"merged", $"pair_count", $"n_merged")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got.take(2) == Seq((1L, "aa", 16L, 9L), (2L, "ab", 13L, 13L)))
    assert(got.size == 9 && got.last == (9L, "aaaa", 2L, 2L))
  }

  test("q335: open-vocab encode reproduces the trainer's symbolization on every training type") {
    import spark.implicits._
    // the encode path must be a strict generalization: replaying the
    // learned merge list by rank over a TRAINING word must land exactly
    // on the trainer's final symbolization of that word (both through
    // the Spark expression and the driver replay)
    val words = graft.sources.Tables.load(spark, sf, "documents")
      .select(pmod($"doc_id", lit(2L)).as("half"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("word"))
    val trainWf = words.filter($"half" === 0L)
      .groupBy($"word").agg(count(lit(1)).as("c"))
    val (rows, vocab) = TextOps.bpeTrain(spark, trainWf, 30)
    val merges = rows.map(r => (r.getString(1), r.getString(2)))
    assert(merges.nonEmpty)
    val mismatch = vocab
      .withColumn("enc", TextOps.bpeEncodeExpr(merges))
      .filter(!($"enc" <=> $"syms")).count()
    assert(mismatch == 0L, "Spark encode diverges from trainer symbolization")
    vocab.select($"word", $"syms").as[(String, Seq[String])].collect()
      .foreach { case (w, syms) =>
        assert(TextOps.bpeEncode(w, merges) == syms, s"driver replay: $w")
      }
  }

  test("q335: a planted unseen word encodes through the expected merge sequence") {
    import spark.implicits._
    // merges learned from the hand-computed forced corpus (q320's plant):
    // aa, ab, xy, xz, cd, aaab, abab, cdcd, aaaa — then encode word
    // types the trainer NEVER saw and pin the exact greedy-by-rank
    // outcome, including the run-parity case and untouchable symbols
    val wf = Seq(("aaab", 5L), ("abab", 4L), ("cdcd", 3L), ("aaaa", 2L),
      ("xy", 7L), ("xz", 7L)).toDF("word", "c")
    val merges = TextOps.bpeTrainRows(spark, wf, 12)
      .map(r => (r.getString(1), r.getString(2)))
    val want = Map(
      "aaabab" -> Seq("aaab", "ab"),   // rank 1 then 2 then the rank-6 pair
      "xyz"    -> Seq("xy", "z"),      // xy (rank 3) blocks xz (rank 4)
      "aaaaa"  -> Seq("aaaa", "a"),    // run parity then the (aa,aa) merge
      "qaxb"   -> Seq("q", "a", "x", "b")) // nothing applies
    want.foreach { case (w, exp) =>
      assert(TextOps.bpeEncode(w, merges) == exp, s"driver: $w")
    }
    val got = want.keys.toSeq.toDF("word")
      .select($"word", TextOps.bpeEncodeExpr(merges).as("enc"))
      .as[(String, Seq[String])].collect().toMap
    want.foreach { case (w, exp) => assert(got(w) == exp, s"expr: $w") }
  }

  test("q335: holdout report carries the planted OOV words") {
    val rep = TextOps.q335BpeEncodeHoldout(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val p = rep(("xx", "planted"))
    assert(p.getAs[Long]("n_words") == 10L)
    // hashtable x2, tableau, zq x3, querying, sorting unseen; 'the' x2 seen
    assert(p.getAs[Long]("n_oov_words") == 8L)
    assert(p.getAs[Long]("oov_ppm") == 800000L)
    rep.values.foreach { r =>
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("n_bpe_tokens") <= r.getAs[Long]("n_chars"))
    }
  }

  test("q385: OPH signatures, densification and all three estimators replay exactly") {
    import spark.implicits._
    val rows = DedupOps.q385OphDedup(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val P = 1000000007L
    val perms = Seq((3L, 1L), (7L, 5L), (11L, 13L), (17L, 29L), (23L, 37L),
      (31L, 43L), (41L, 53L), (47L, 61L), (59L, 71L), (67L, 79L),
      (73L, 89L), (83L, 101L))
    val m = DedupOps.OphBins
    val c = DedupOps.OphWrapC
    val all = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val k = math.max(1L, all.length.toLong / 200L)
    val sample = all.map { case (id, t) =>
      (id, Option(t).getOrElse("").split(" ", -1))
    }.filter(d => d._2.length >= 3 && d._1 % k == 0).sortBy(_._1)
    case class Doc(id: Long, hs: Seq[Long], ss: Set[Long], sig: Seq[Long],
                   bins: Seq[Option[Long]], dens: Seq[Long])
    val docs = sample.map { case (id, ws) =>
      val hs = (0 until ws.length - 2).map(i =>
        Fingerprint.hashString(s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}"))
      val sig = perms.map { case (a, b1) => hs.map(h => (a * h + b1) % P).min }
      val us = hs.map(h => (3L * h + 1L) % P)
      val bins = (0 until m).map { j =>
        val inBin = us.filter(_ % m == j).map(_ / m)
        if (inBin.isEmpty) None else Some(inBin.min)
      }
      val dens = (0 until m).map { j =>
        val t = (0 until m).find(t0 => bins((j + t0) % m).isDefined).get
        bins((j + t) % m).get + t.toLong * c
      }
      Doc(id, hs, hs.toSet, sig, bins, dens)
    }
    var (n, a1, s1, a2, s2, a3, s3) = (0L, 0L, 0L, 0L, 0L, 0L, 0L)
    for (i <- docs.indices; j <- (i + 1) until docs.length) {
      val (x, y) = (docs(i), docs(j))
      val inter = (x.ss & y.ss).size.toLong
      val jacc = inter * 1000000L / (x.ss.size + y.ss.size - inter)
      val est1 = x.sig.zip(y.sig).count(p => p._1 == p._2) * 1000000L / m
      val both = x.bins.zip(y.bins).filter(p => p._1.isDefined && p._2.isDefined)
      val est2 = if (both.isEmpty) 0L
        else both.count(p => p._1 == p._2) * 1000000L / both.length
      val est3 = x.dens.zip(y.dens).count(p => p._1 == p._2) * 1000000L / m
      n += 1; a1 += math.abs(est1 - jacc); s1 += est1 - jacc
      a2 += math.abs(est2 - jacc); s2 += est2 - jacc
      a3 += math.abs(est3 - jacc); s3 += est3 - jacc
    }
    val evals = docs.map(_.hs.length.toLong).sum
    val empty = docs.map(_.bins.count(_.isEmpty).toLong).sum
    def check(tag: String, sa: Long, ss0: Long, empt: Long, ev: Long): Unit = {
      val r = rows(tag)
      assert(r.getAs[Long]("n_pairs") == n, tag)
      assert(r.getAs[Long]("mae_ppm") == sa / n, tag)
      assert(r.getAs[Long]("bias_sum_ppm") == ss0, tag)
      assert(r.getAs[Long]("n_empty_bins") == empt, tag)
      assert(r.getAs[Long]("hash_evals") == ev, tag)
    }
    check("1_kperm", a1, s1, 0L, 12L * evals)
    check("2_oph_raw", a2, s2, empty, evals)
    check("3_oph_dens", a3, s3, 0L, evals)
    // densification is total (every slot filled) and identical docs
    // collide on every slot: a doc compared against itself scores 1e6
    // under all three estimators — the estimators share a fixed point
    docs.headOption.foreach { d =>
      assert(d.dens.forall(_ >= 0L))
      assert(d.sig.zip(d.sig).count(p => p._1 == p._2) == m)
    }
  }

  test("q389: median cut — histogram, split rounds, palette and SSE replay independently") {
    import spark.implicits._
    val rows = MultimodalOps.q389MedianCut(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // independent replay: pixel formula (codec round-trip is lossless),
    // 4-bit histogram, three split rounds under an independently coded
    // split rule, palette means, nearest-entry assignment
    val ids = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id").as[Long].collect()
    val px = ids.flatMap { id =>
      for (j <- 0 until 16; i <- 0 until 16) yield {
        def chan(c: String): Int = {
          val f = Fingerprint.hashString(s"$id:$i:$j:$c")
          ((f * f % 1000000007L) % 256L).toInt
        }
        (chan("r"), chan("g"), chan("b"))
      }
    }
    val cells = px.groupBy(p => (p._1 / 16, p._2 / 16, p._3 / 16))
      .map { case ((cr, cg, cb), ps) => (cr, cg, cb, ps.length.toLong) }
      .toSeq
    def split(cs: Seq[(Int, Int, Int, Long)]) = {
      val rng = Seq(cs.map(_._1), cs.map(_._2), cs.map(_._3))
        .map(v => v.max - v.min)
      val ax = rng.indexOf(rng.max)
      def co(c: (Int, Int, Int, Long)) =
        Seq(c._1, c._2, c._3)(ax)
      val w = cs.map(_._4).sum
      val byC = cs.groupBy(co).view.mapValues(_.map(_._4).sum)
        .toSeq.sortBy(_._1)
      var cum = 0L
      val sRaw = byC.collectFirst {
        case (v, cw) if { cum += cw; cum >= (w + 1) / 2 } => v
      }.get
      val mx = byC.last._1
      val sAdj = if (sRaw == mx && mx > byC.head._1)
        byC.map(_._1).filter(_ < mx).max else sRaw
      cs.partition(co(_) <= sAdj)
    }
    var boxes = Map(0 -> cells)
    (1 to 3).foreach { _ =>
      boxes = boxes.toSeq.flatMap { case (b, cs) =>
        if (cs.isEmpty) Nil
        else { val (l, r) = split(cs); Seq(2 * b -> l, 2 * b + 1 -> r) }
      }.filter(_._2.nonEmpty).toMap
    }
    val pal = (0 until 8).map { k =>
      boxes.get(k).filter(_.nonEmpty).map { cs =>
        val w = cs.map(_._4).sum
        (cs.map(c => c._4 * (c._1 * 16 + 8)).sum / w,
          cs.map(c => c._4 * (c._2 * 16 + 8)).sum / w,
          cs.map(c => c._4 * (c._3 * 16 + 8)).sum / w)
      }.getOrElse((0L, 0L, 0L))
    }
    pal.zipWithIndex.foreach { case ((pr, pg, pb), k) =>
      val r = rows(s"pal:$k")
      assert(r.getAs[Long]("pal_r") == pr, s"pal $k r")
      assert(r.getAs[Long]("pal_g") == pg, s"pal $k g")
      assert(r.getAs[Long]("pal_b") == pb, s"pal $k b")
    }
    val counts = Array.fill(8)(0L); val sses = Array.fill(8)(0L)
    px.foreach { case (r0, g0, b0) =>
      val ds = pal.map { case (pr, pg, pb) =>
        (r0 - pr) * (r0 - pr) + (g0 - pg) * (g0 - pg) + (b0 - pb) * (b0 - pb)
      }
      val k = ds.indexOf(ds.min)
      counts(k) += 1L; sses(k) += ds(k)
    }
    (0 until 8).foreach { k =>
      assert(rows(s"pal:$k").getAs[Long]("n_pixels") == counts(k), s"n $k")
      assert(rows(s"pal:$k").getAs[Long]("sse") == sses(k), s"sse $k")
    }
    val z = rows("z_total")
    assert(z.getAs[Long]("n_pixels") == px.length.toLong)
    assert(z.getAs[Long]("sse") == sses.sum * 1000L / px.length)
  }

  test("q390: DIMSUM sample, weights and cosine errors replay; unclamped pairs are exact") {
    import spark.implicits._
    val rows = DedupOps.q390DimsumCosine(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val all = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val k = math.max(1L, all.length.toLong / 200L)
    val docs = all.filter(_._1 % k == 0).map { case (id, t) =>
      (id, Option(t).getOrElse("").split(" ", -1).distinct.toSeq)
    }.filter(_._2.nonEmpty).sortBy(_._1)
    case class D(id: Long, nm: Long, p: Long, kept: Set[String],
                 words: Set[String])
    val ds = docs.map { case (id, dw) =>
      val nm = math.floor(math.sqrt((dw.length * 1000000L).toDouble)).toLong
      val p = math.min(1000000L, DedupOps.DimsumSgScaled / nm)
      val sq = ((id % 1000003L) + 1000003L) % 1000003L
      val kept = dw.filter { w =>
        val f = Fingerprint.hashString(s"ds:$w:$id:${sq * sq}")
        ((f % 1000000L) + 1000000L) % 1000000L < p
      }.toSet
      D(id, nm, p, kept, dw.toSet)
    }
    var (n, sa, ss, em, xe) = (0L, 0L, 0L, 0L, 0L)
    for (i <- ds.indices; j <- (i + 1) until ds.length) {
      val (a, b) = (ds(i), ds(j))
      val inter = (a.words & b.words).size.toLong
      if (inter > 0L) {
        n += 1L; xe += inter
        val shared = (a.kept & b.kept).size.toLong
        em += shared
        val dotmic = shared * (1000000000000000000L / (a.p * b.p))
        val exactCos = inter * 1000000000000L / (a.nm * b.nm)
        val estCos = dotmic * 1000000L / (a.nm * b.nm)
        sa += math.abs(estCos - exactCos); ss += estCos - exactCos
        // a fully unclamped-at-p=1e6 doc pair estimates EXACTLY when
        // both docs keep everything: contribution is 1e6 per shared word
        if (a.p == 1000000L && b.p == 1000000L)
          assert(estCos == exactCos, s"${a.id},${b.id}")
      }
    }
    val dx = rows("1_exact"); val dm = rows("2_dimsum")
    assert(dx.getAs[Long]("n_pairs") == n && dm.getAs[Long]("n_pairs") == n)
    assert(dx.getAs[Long]("emitted_contribs") == xe)
    assert(dm.getAs[Long]("emitted_contribs") == em)
    assert(dm.getAs[Long]("mae_ppm") == sa / n)
    assert(dm.getAs[Long]("bias_sum_ppm") == ss)
    // the sampling must actually save emission mass on this corpus
    assert(em < xe)
  }
}
