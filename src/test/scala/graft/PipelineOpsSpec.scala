package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.PipelineOps

/** Invariant checks for the layout/curation operators (SURVEY.md §2.7
  * X40-X45) beyond the driver's DuckDB hash gate: redaction must actually
  * remove what it counted, shard assignment must partition the corpus with
  * contiguous positions, z-order buckets must be balanced and z-contiguous,
  * and the quantile trim must keep exactly the P5..P95 rank band.
  */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession("pipeline-ops-spec", 4)

  override def afterAll(): Unit = spark.stop()

  test("pii redaction finds exactly the planted PII and scrubs it") {
    val rows = PipelineOps.q81PiiRedact(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1L)
      assert(r.getAs[Long]("n_ips") == 1L)
      assert(r.getAs[Long]("n_longnums") == 1L)
    }
  }

  test("pii redaction leaves no email/ip/long-number shapes behind") {
    import spark.implicits._
    // rebuild the redacted text the operator fingerprints and re-scan it
    val redacted = graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("pii_text", concat(
        coalesce($"text", lit("")), lit(" contact user"), $"doc_id",
        lit("@mail.example.com via 10.0."), $"doc_id" % 256,
        lit("."), $"doc_id" % 100,
        lit(" ref "), $"doc_id" * 1000003L + 1000007L))
      .withColumn("r", regexp_replace(regexp_replace(regexp_replace($"pii_text",
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
        "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "[IP]"),
        "\\d{6,}", "[NUM]"))
      .filter($"r".rlike("@|\\d{6,}|\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"))
    assert(redacted.count() == 0L)
  }

  test("mixture weights: sqrt bracket holds and ppm sums to ~1e6") {
    val rows = PipelineOps.q82LangMixture(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getAs[Long]("w_sqrt"); val t = r.getAs[Long]("n_tokens")
      assert(w * w <= t && t < (w + 1) * (w + 1))
    }
    val total = rows.map(_.getAs[Long]("weight_ppm")).sum
    // integer floor division loses < 1 ppm per language
    assert(total <= 1000000L && total > 1000000L - rows.length)
  }

  test("shard assignment partitions the corpus with contiguous positions") {
    import spark.implicits._
    val rows = PipelineOps.q83ShardAssign(spark, sf).collect()
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(rows.length.toLong == nDocs)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length.toLong == nDocs)
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rs) =>
      assert(sh >= 0 && sh < 16)
      val pos = rs.map(_.getAs[Long]("pos")).sorted
      assert(pos.toSeq == (1L to rs.length.toLong), s"shard $sh positions")
    }
  }

  test("inverted index postings agree with df and are sorted") {
    val rows = PipelineOps.q84InvertedIndex(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ids = r.getAs[String]("postings").split(",").map(_.toLong)
      assert(ids.length.toLong == r.getAs[Long]("df"))
      assert(ids.toSeq == ids.sorted.toSeq)
      assert(ids.distinct.length == ids.length)
      assert(r.getAs[Long]("df") >= 5L)
    }
  }

  test("z-order buckets are balanced and z-contiguous; extents bounded") {
    val rows = PipelineOps.q85ZorderLayout(spark, sf).collect()
      .sortBy(_.getAs[Long]("bucket"))
    assert(rows.length == 32)
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    rows.foreach { r =>
      // equal-split buckets: floor/ceil of total/32
      val n = r.getAs[Long]("n_rows")
      assert(n == total / 32 || n == total / 32 + 1)
      assert(r.getAs[Long]("z_min") <= r.getAs[Long]("z_max"))
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("z_max") <= b.getAs[Long]("z_min"),
          s"buckets ${a.getAs[Long]("bucket")}/${b.getAs[Long]("bucket")} overlap in z")
      case _ =>
    }
  }

  test("collocation lift agrees with independently recounted frequencies") {
    import spark.implicits._
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"text").collect().map(_.getString(0)).filter(_ != null)
      .map(_.split(" ", -1)).filter(_.length >= 2) // -1: keep trailing empties like Spark
    val uni = texts.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val bi = texts.flatMap(ws => ws.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = PipelineOps.q87Collocations(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("a"), r.getAs[String]("b"))
      assert(r.getAs[Long]("n_ab") == bi((a, b)))
      assert(r.getAs[Long]("n_a") == uni(a))
      assert(r.getAs[Long]("n_b") == uni(b))
      assert(r.getAs[Long]("n_ab") >= 5L)
      assert(r.getAs[Long]("lift_ppt") ==
        r.getAs[Long]("n_ab") * 1000000000000L / (uni(a) * uni(b)))
    }
  }

  test("stratified split hits the 5/5/90 bands exactly and covers every doc") {
    val rows = PipelineOps.q88StratifiedSplit(spark, sf).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rs) =>
      val m = rs.map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
      val n = m.values.sum
      assert(m.getOrElse("test", 0L) == n / 20, s"$lang test band")
      assert(m.getOrElse("val", 0L) == n * 2 / 20 - n / 20, s"$lang val band")
      assert(m.getOrElse("train", 0L) == n - n * 2 / 20, s"$lang train band")
    }
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.sources.Tables.load(spark, sf, "documents").count())
  }

  test("compaction plan tiles each source: files near target, no gaps") {
    val rows = PipelineOps.q89CompactionPlan(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("file_seq"))
      // file sequence is contiguous from 0
      assert(sorted.map(_.getAs[Long]("file_seq")).toSeq ==
        (0L until sorted.length.toLong), s"$src file_seq gap")
      // every file except the last holds at least the target's worth of
      // bytes MINUS one doc (a doc can straddle the cut)
      sorted.init.zip(sorted.tail).foreach { case (f, next) =>
        assert(f.getAs[Long]("last_doc_id") < next.getAs[Long]("first_doc_id"))
      }
      val total = sorted.map(_.getAs[Long]("n_bytes")).sum
      assert(sorted.last.getAs[Long]("file_seq") == (total - 1) / 262144L, src)
    }
  }

  test("skew audit shares agree with exact recounted key frequencies") {
    import spark.implicits._
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val total = li.count()
    val rows = PipelineOps.q90SkewAudit(spark, sf).collect()
    assert(rows.length == 10)
    Seq("l_suppkey", "l_partkey").foreach { kc =>
      val expected = li.groupBy(col(kc).cast("long")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (k, n) => (-n, k) }.take(5)
      val got = rows.filter(_.getAs[String]("key_col") == kc)
        .map(r => (r.getAs[Long]("key"), r.getAs[Long]("n_rows")))
      assert(got.toSeq == expected.toSeq, kc)
      rows.filter(_.getAs[String]("key_col") == kc).foreach { r =>
        assert(r.getAs[Long]("share_ppm") ==
          r.getAs[Long]("n_rows") * 1000000L / total)
      }
    }
  }

  test("global deciles partition the corpus into contiguous token bands") {
    val rows = PipelineOps.q91GlobalDeciles(spark, sf).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (0L to 9L))
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.sources.Tables.load(spark, sf, "documents").count())
    rows.foreach { r => // equal split up to integer rounding
      val n = r.getAs[Long]("n_docs")
      assert(n == total / 10 || n == total / 10 + 1)
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("max_tokens") <= b.getAs[Long]("min_tokens"),
          "decile token ranges overlap")
      case _ =>
    }
  }

  test("incremental dedup: exact twins imply near-dup hits; batch covered") {
    import spark.implicits._
    val rows = PipelineOps.q92IncrementalDedup(spark, sf).collect()
    val batchN = graft.sources.Tables.load(spark, sf, "documents")
      .filter($"doc_id" % 5 === 0).count()
    assert(rows.length.toLong == batchN)
    rows.foreach { r =>
      // an exact twin with non-null text is also a J=1.0 near-dup
      if (r.getAs[Boolean]("dup_exact"))
        assert(r.getAs[Long]("n_near_dups") >= 1L,
          s"doc ${r.getAs[Long]("doc_id")} exact dup but no near hit")
    }
  }

  test("quantization audit: saturation bounded, error small vs magnitude") {
    val rows = PipelineOps.q93QuantizeAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_dims")
      assert(r.getAs[Long]("n_saturated") >= 1L, "max-abs dim must hit 127")
      assert(r.getAs[Long]("n_saturated") <= n)
      assert(r.getAs[Long]("abs_q_sum") <= n * 127L)
      // per-dim error is at most (scale/2)^2; scale <= maxabs/127 and the
      // embedding dims are O(1), so total error stays well under n_dims
      assert(r.getAs[Double]("sq_err") >= 0.0)
      assert(r.getAs[Double]("sq_err") < n.toDouble)
    }
  }

  test("dup-gram coverage agrees with a brute-force local recount") {
    import spark.implicits._
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .filter($"text".isNotNull).select($"doc_id", $"text").collect()
      // limit -1: keep trailing empty tokens, matching Spark's split()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .filter(_._2.length >= 5)
    // recount on the SAME portable fingerprint the operator keys on —
    // distinct grams can collide (expected ~1 per 50k grams at mod 1e9+7),
    // and the operator's contract is hash-keyed like any real dedup table
    def fp(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    val gramsOf = texts.map { case (id, ws) =>
      id -> ws.sliding(5).map(g => fp(g.mkString(" "))).toArray }.toMap
    val docsPerGram: Map[Long, Int] = gramsOf.toSeq
      .flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    val rows = PipelineOps.q94DupGramCoverage(spark, sf).collect()
    assert(rows.length == gramsOf.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val gs = gramsOf(id)
      val dup = gs.count(g => docsPerGram(g) > 1).toLong
      assert(r.getAs[Long]("n_gram_positions") == gs.length.toLong, s"doc $id positions")
      assert(r.getAs[Long]("n_dup_positions") == dup, s"doc $id dup count")
      assert(r.getAs[Long]("dup_coverage_ppm") == dup * 1000000L / gs.length)
    }
  }

  test("embedding coverage: counts reconcile and bound the corpus") {
    import spark.implicits._
    val rows = PipelineOps.q95EmbedCoverage(spark, sf).collect()
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    val embIds = graft.sources.Tables.load(spark, sf, "embeddings")
      .select($"vec_id").distinct().collect().map(_.getLong(0)).toSet
    val docIds = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(rows.map(_.getAs[Long]("n_embedded")).sum ==
      (embIds intersect docIds).size.toLong)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_embedded") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("coverage_ppm") <= 1000000L)
    }
  }

  test("chunk split tiles every document: full coverage, fixed overlap") {
    val rows = PipelineOps.q96ChunkSplit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("chunk_idx"))
      assert(sorted.head.getAs[Long]("start_tok") == 0L)
      assert(sorted.map(_.getAs[Long]("chunk_idx")).toSeq ==
        (0L until sorted.length.toLong))
      sorted.foreach { r =>
        assert(r.getAs[Long]("chunk_tokens") ==
          r.getAs[Long]("end_tok") - r.getAs[Long]("start_tok"))
        assert(r.getAs[Long]("chunk_tokens") >= 1L &&
          r.getAs[Long]("chunk_tokens") <= 64L)
      }
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_tok") - a.getAs[Long]("start_tok") == 48L)
          // overlap: next chunk starts before the previous ends
          assert(b.getAs[Long]("start_tok") < a.getAs[Long]("end_tok"),
            s"doc $id gap between chunks")
        case _ =>
      }
      // the doc's full token range is covered
      val n = sorted.last.getAs[Long]("end_tok")
      assert(sorted.length == (if (n <= 64) 1 else ((n - 64 + 47) / 48 + 1)))
    }
  }

  test("lang agreement matrix partitions the corpus") {
    val rows = PipelineOps.q97LangAgreement(spark, sf).collect()
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(rows.map(_.getAs[String]("pred_lang")).toSet.subsetOf(Set("en", "unknown")))
  }

  test("corpus report margins reconcile: (all,all) equals the cell sum") {
    val rows = PipelineOps.q98CorpusReport(spark, sf).collect()
    def cellSum(f: org.apache.spark.sql.Row => Boolean) =
      rows.filter(f).map(_.getAs[Long]("n_docs")).sum
    val total = rows.find(r => r.getAs[String]("source") == "(all)" &&
      r.getAs[String]("lang") == "(all)").get.getAs[Long]("n_docs")
    // full cells, source margins, and lang margins must each sum to total
    assert(cellSum(r => r.getAs[String]("source") != "(all)" &&
      r.getAs[String]("lang") != "(all)") == total)
    assert(cellSum(r => r.getAs[String]("source") != "(all)" &&
      r.getAs[String]("lang") == "(all)") == total)
    assert(cellSum(r => r.getAs[String]("source") == "(all)" &&
      r.getAs[String]("lang") != "(all)") == total)
    // the gate must DISCRIMINATE (both classes populated) and n_pass must
    // match an independent recount — pass_ppm <= 1e6 alone is vacuous
    import spark.implicits._
    val expectedPass = graft.sources.Tables.load(spark, sf, "documents")
      .filter($"text".isNotNull).collect().count { r =>
        val t = r.getAs[String]("text")
        t.split(" ", -1).length >= 12 && t.length >= 50
      }.toLong
    val all = rows.find(r => r.getAs[String]("source") == "(all)" &&
      r.getAs[String]("lang") == "(all)").get
    assert(all.getAs[Long]("n_pass") == expectedPass)
    assert(expectedPass > 0L && expectedPass < total,
      s"gate does not discriminate: $expectedPass of $total pass")
    assert(all.getAs[Long]("pass_ppm") == expectedPass * 1000000L / total)
  }

  test("quantile trim keeps exactly the P5..P95 rank band per language") {
    import spark.implicits._
    val byLang = graft.sources.Tables.load(spark, sf, "documents")
      .select($"lang", size(split($"text", " ")).cast("long").as("n_tokens"))
      .collect().groupBy(_.getString(0))
    val rows = PipelineOps.q86QuantileTrim(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSet == byLang.keySet)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_total")
      // ranks kept: rk in (n/20, 19n/20] — count is floor(19n/20) - floor(n/20)
      assert(r.getAs[Long]("n_kept") == n * 19 / 20 - n / 20)
      val toks = byLang(r.getAs[String]("lang")).map(_.getLong(1)).sorted
      assert(r.getAs[Long]("kept_min_tokens") >= toks.head)
      assert(r.getAs[Long]("kept_max_tokens") <= toks.last)
    }
  }

  test("q225 DSIR importance scores match a driver replay of the bucket math") {
    import spark.implicits._
    def fp(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val buckets = docs.flatMap { case (id, src, t) =>
      // -1: keep trailing empties like Spark's split(text, ' ')
      t.split(" ", -1).map(w => (id, src, fp(w) % 8192L)) }
    val nRaw = buckets.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val nTgt = buckets.filter(_._2 == "src0")
      .groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val tRaw = nRaw.values.sum
    val tTgt = nTgt.values.sum
    def fdiv(a: Long, b: Long): Long = Math.floorDiv(a, b)
    val delta = nRaw.map { case (b, nr) =>
      b -> (fdiv(nTgt.getOrElse(b, 0L) * 1000000L, tTgt) -
        fdiv(nr * 1000000L, tRaw)) }
    val expected = buckets.groupBy(_._1).view.mapValues(bs =>
      (bs.length.toLong, bs.map(x => delta(x._3)).sum)).toMap
    val got = PipelineOps.q225ImportanceWeights(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("dsir_score"))).toMap
    assert(got == expected, s"${got.size} vs ${expected.size} docs")
    // the signal discriminates: target-source docs outrank the rest on
    // average (that is the entire point of importance weighting)
    val (t, o) = docs.partition(_._2 == "src0")
    def mean(ids: Array[Long]) =
      ids.map(got(_)._2).sum / ids.length.max(1)
    assert(mean(t.map(_._1)) > mean(o.map(_._1)),
      "target docs do not outrank non-target docs")
  }

  test("epoch plan: split-form quota/epochs equal the exact BigInt floors") {
    val rows = graft.ops.PipelineOps.q250EpochPlan(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalTokens = rows.map(_.getAs[Long]("n_tokens")).sum
    val budget = totalTokens / 2
    rows.foreach { r =>
      val w = r.getAs[Long]("weight_ppm")
      val n = r.getAs[Long]("n_tokens")
      val quota = r.getAs[Long]("quota_tokens")
      val epochs = r.getAs[Long]("epochs_permille")
      // the split form must be EXACTLY floor(B*w/1e6) / floor(q*1000/n)
      assert(BigInt(budget) * w / 1000000 == BigInt(quota), r.toString)
      assert(BigInt(quota) * 1000 / n == BigInt(epochs), r.toString)
      assert(r.getAs[Long]("repeats_data") == (if (epochs > 1000) 1L else 0L))
    }
    // floor rounding only ever under-allocates: the plan fits the budget
    assert(rows.map(_.getAs[Long]("quota_tokens")).sum <= budget)
    // sqrt-weighting upweights the tail: the smallest language gets MORE
    // epochs than the largest
    val byTokens = rows.sortBy(_.getAs[Long]("n_tokens"))
    assert(byTokens.head.getAs[Long]("epochs_permille") >=
      byTokens.last.getAs[Long]("epochs_permille"))
  }

  test("q259: special-token classes fire exactly; near-miss stays silent") {
    val got = graft.ops.PipelineOps.q259SpecialTokens(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (id, res, chat, fim, has) =>
      Math.floorMod(id, 4L) match {
        case 1L => assert((res, chat, fim, has) == (1L, 0L, 1L, 1L), s"doc $id")
        case 2L => assert((res, chat, fim, has) == (0L, 3L, 0L, 1L), s"doc $id")
        // the near-miss (<endoftext> without pipes, unclosed [INST) and
        // the clean class must both be silent — the corpus itself carries
        // no accidental special tokens
        case _  => assert((res, chat, fim, has) == (0L, 0L, 0L, 0L), s"doc $id")
      }
    }
    // one detector definition: the Spark literal is the re-escaped oracle
    // pattern, nothing else
    assert(graft.ops.PipelineOps.chatMarkersSparkLit ==
      graft.ops.PipelineOps.ChatMarkers.replace("\\", "\\\\"))
  }

  test("q257: suppression rules replay and actually protect the release") {
    import org.apache.spark.sql.functions.col
    val rows = graft.ops.PipelineOps.q257SdcRelease(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getString(4)))
    // driver replay of the rules from the true cell counts
    val cells = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("source"), col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1))) ++
      graft.ops.PipelineOps.SdcPlant.map(p => (p._2, p._3))
    val byCell = cells.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def r10(n: Long) = ((n + 5) / 10) * 10
    val want = byCell.keys.map(_._1).toSeq.distinct.sorted.flatMap { src =>
      val row = byCell.collect { case ((s, l), n) if s == src => (l, n) }.toSeq
      val (pri, unsup) = row.partition(_._2 < 10)
      val comp: Set[String] =
        if (pri.size == 1 && unsup.nonEmpty) Set(unsup.minBy(c => (c._2, c._1))._1)
        else Set.empty
      val cellRows = row.sortBy(_._1).map { case (l, n) =>
        val st = if (n < 10) "primary"
                 else if (comp(l)) "complementary" else "ok"
        (src, l, n, if (st == "ok") r10(n) else -1L, st)
      }
      val total = row.map(_._2).sum
      val mSup = pri.nonEmpty && unsup.isEmpty
      cellRows :+ ((src, "~total", total,
        if (mSup) -1L else r10(total),
        if (mSup) "margin_suppressed" else "margin"))
    }
    assert(rows.toSeq == want)
    // every published row margin is consistent with >=2 unknowns or none:
    // never exactly one suppressed cell under a published margin
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val marginPublished = rs.exists(r => r._2 == "~total" && r._4 >= 0)
      val suppressedCells = rs.count(r => r._2 != "~total" && r._4 == -1L)
      if (marginPublished) assert(suppressedCells != 1, s"$src leaks by subtraction")
    }
    // both planted branches fired
    assert(rows.contains(("zz-sdc-plant", "bb", 25L, -1L, "complementary")))
    assert(rows.contains(("zz-sdc-lone", "~total", 4L, -1L, "margin_suppressed")))
  }

  test("q301: the Benford table matches the law; synthetic amounts fail the screen") {
    val got = PipelineOps.q301BenfordAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.size == 18)
    // the fixed integer table IS floor(log10(1+1/d)*1e6)
    (1 to 9).foreach { d =>
      val expect = math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong
      assert(got(("orders_totalprice", d.toLong))._3 == expect, s"digit $d")
    }
    // replay digit counts per scope
    Seq(("orders_totalprice", "orders.parquet", "o_totalprice"),
      ("lineitem_extendedprice", "lineitem.parquet", "l_extendedprice"))
      .foreach { case (scope, file, col) =>
        val digits = spark.read.parquet(s"$sf/$file")
          .selectExpr(s"CAST(round($col * 100) AS BIGINT)").collect()
          .map(_.getLong(0).toString.head.asDigit.toLong)
        val total = digits.length.toLong
        (1 to 9).foreach { d =>
          val n = digits.count(_ == d.toLong).toLong
          val (gn, obs, exp, dev) = got((scope, d.toLong))
          assert(gn == n && obs == n * 1000000L / total, s"$scope $d")
          assert(dev == math.abs(obs - exp))
        }
        // the machine-generated verdict: total deviation far beyond what a
        // conforming ledger shows (natural data sits within a few % here)
        val totalDev = (1 to 9).map(d => got((scope, d.toLong))._4).sum
        assert(totalDev > 150000L, s"$scope dev $totalDev")
      }
  }

  test("q295: sampled quantiles replay exactly and rank errors stay in band") {
    import graft.functions.Fingerprint
    val got = PipelineOps.q295SampleQuantiles(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet == (1L to 9L).toSet)
    // full driver replay: sample membership, both value-at-rank legs,
    // true ranks of the sample estimates
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("CAST(l_orderkey AS BIGINT)", "CAST(l_linenumber AS BIGINT)",
        "CAST(round(l_extendedprice * 100) AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cs = rows.map(_._3).sorted
    val sampleCs = rows.filter { case (o, l, c) =>
      val fp = Fingerprint.hashString(s"$o:$l:$c")
      (fp * fp / 65536L) % 100L < 5L
    }.map(_._3).sorted
    val (n, m) = (cs.length.toLong, sampleCs.length.toLong)
    (1L to 9L).foreach { d =>
      val exact = cs((math.max(1L, d * n / 10L) - 1L).toInt)
      val est = sampleCs((math.max(1L, d * m / 10L) - 1L).toInt)
      val trueRank = cs.count(_ <= est).toLong
      assert(got(d) == ((exact, est, trueRank * 1000000L / n,
        trueRank * 1000000L / n - d * 100000L)), s"decile $d")
      // a 5% sample keeps decile rank error within ~3 sigma of sqrt(p(1-p)/m)
      assert(math.abs(got(d)._4) <= 100000L, s"decile $d err ${got(d)._4}")
    }
    // the sample is genuinely ~5%, not degenerate
    assert(m * 100 > n * 2 && m * 100 < n * 9, s"sample $m of $n")
  }

  test("q294: zone-map skipping is sound and layouts prune exactly as replayed") {
    import spark.implicits._
    val got = PipelineOps.q294LayoutSweep(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(got.size == 15)
    // soundness: a predicate with matching rows always hits >= 1 file
    got.foreach { case (k, (nf, hit, rowsPpm)) =>
      assert(nf == 64L, k)
      if (rowsPpm > 0L) assert(hit >= 1L, k)
    }
    // the layout story: sorting by a column prunes ITS predicate far
    // below the natural layout; z-order helps BOTH single-column probes
    assert(got(("2_by_date", "p_date"))._2 < got(("1_natural", "p_date"))._2)
    assert(got(("3_by_cust", "p_cust"))._2 < got(("1_natural", "p_cust"))._2)
    assert(got(("4_zorder", "p_date"))._2 < got(("1_natural", "p_date"))._2)
    assert(got(("4_zorder", "p_cust"))._2 < got(("1_natural", "p_cust"))._2)
    // Hilbert serves both probes too, and in AGGREGATE reads fewer
    // files than Morton over the predicate suite (47 vs 61 at sf0.001,
    // 19 vs 29 at sf0.01) — the locality advantage is an average-case
    // property; per-predicate zone maps can go either way (p_date at
    // sf0.001 measures 4 vs 2), which is exactly why the sweep measures
    // instead of assuming
    assert(got(("5_hilbert", "p_date"))._2 < got(("1_natural", "p_date"))._2)
    assert(got(("5_hilbert", "p_cust"))._2 < got(("1_natural", "p_cust"))._2)
    val ps = Seq("p_date", "p_cust", "p_both")
    assert(ps.map(p => got(("5_hilbert", p))._2).sum <=
      ps.map(p => got(("4_zorder", p))._2).sum,
      "hilbert must not read more total files than z-order over the suite")
    // Hilbert index replay: the published xy2d loop, driver-side
    def xy2d(x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0 % 65536L, y0 % 65536L, 0L)
      var s = 32768L
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3L * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = 65535L - x; y = 65535L - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    // replay the by_date layout's zone maps and hit count from raw rows
    val rows = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_orderkey AS BIGINT) AS okey",
        "CAST(o_custkey AS BIGINT) AS ckey",
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) AS day")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sorted = rows.sortBy(r => (r._3, r._1))
    val n = sorted.length
    val hits = sorted.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 64L / n }
      .values.count { f =>
        val days = f.map(_._1._3)
        !(days.max < 2000L || days.min > 2029L)
      }
    assert(got(("2_by_date", "p_date"))._2 == hits.toLong)
    val exact = rows.count(r => r._3 >= 2000L && r._3 <= 2029L).toLong
    assert(got(("2_by_date", "p_date"))._3 == exact * 1000000L / n)
    // replay the HILBERT layout's hit count for p_cust from raw rows
    val hSorted = rows.sortBy(r => (xy2d(r._2, r._3), r._1))
    val hHits = hSorted.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 64L / n }
      .values.count { f =>
        val cs = f.map(_._1._2)
        !(cs.max < 40L || cs.min > 49L)
      }
    assert(got(("5_hilbert", "p_cust"))._2 == hHits.toLong,
      "hilbert zone-map hits must replay from the reference xy2d")
  }

  test("q291: planted uplift reads significant, the A/A control does not; replay exact") {
    import graft.functions.Fingerprint
    val got = PipelineOps.q291AbExperiment(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(7), r.getLong(8))).toMap
    assert(got("exp1_treatment")._6 == 1L, s"treatment ${got("exp1_treatment")}")
    assert(got("exp2_aa_control")._6 == 0L, s"control ${got("exp2_aa_control")}")
    // driver replay: assignment, conversion, and the IEEE z² pipeline
    val mx = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_custkey AS BIGINT)",
        "CAST(round(o_totalprice * 100) AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap
    def sq(sLit: String, k: Long): Long = {
      val f = Fingerprint.hashString(s"$sLit:$k"); f * f / 65536L
    }
    val units = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("CAST(c_custkey AS BIGINT)").collect().map(_.getLong(0))
      .map { k =>
        val nat = mx.getOrElse(k, 0L) >= 46500000L
        val a1 = sq("exp1", k) % 2; val a2 = sq("exp2", k) % 2
        val conv1 = nat || (a1 == 1L && sq("boost", k) % 2 == 0L)
        (a1, a2, conv1, nat)
      }
    def z2m(na: Long, xa: Long, nb: Long, xb: Long): Long = {
      val pa = xa.toDouble / na; val pb = xb.toDouble / nb
      val p = (xa + xb).toDouble / (na + nb)
      math.round((pa - pb) * (pa - pb) / (p * (1.0 - p) * (1.0 / na + 1.0 / nb)) * 1000.0)
    }
    val (n1a, x1a) = (units.count(_._1 == 0L).toLong,
      units.count(u => u._1 == 0L && u._3).toLong)
    val (n1b, x1b) = (units.count(_._1 == 1L).toLong,
      units.count(u => u._1 == 1L && u._3).toLong)
    assert(got("exp1_treatment") ==
      ((n1a, x1a, n1b, x1b, z2m(n1a, x1a, n1b, x1b),
        if (z2m(n1a, x1a, n1b, x1b) > 3841L) 1L else 0L)))
    val (n2a, x2a) = (units.count(_._2 == 0L).toLong,
      units.count(u => u._2 == 0L && u._4).toLong)
    val (n2b, x2b) = (units.count(_._2 == 1L).toLong,
      units.count(u => u._2 == 1L && u._4).toLong)
    assert(got("exp2_aa_control") ==
      ((n2a, x2a, n2b, x2b, z2m(n2a, x2a, n2b, x2b),
        if (z2m(n2a, x2a, n2b, x2b) > 3841L) 1L else 0L)))
  }

  test("q286: pseudonymization is injective, consistent, and join-preserving") {
    import graft.functions.Fingerprint
    val rows = PipelineOps.q286Pseudonymize(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set("customer.c_custkey", "orders.o_custkey",
      "join_orders_customer"))
    // zero measured collisions anywhere; the token join reproduces the raw
    // join EXACTLY (consistency + injectivity together)
    rows.values.foreach { case (_, _, _, coll) => assert(coll == 0L) }
    val (rawRows, tokRows, _, _) = rows("join_orders_customer")
    assert(rawRows == tokRows && rawRows > 0L)
    // replay: the token derivation is the salted fingerprint pair, and the
    // two salts genuinely produce independent halves
    def token(k: Long): String =
      s"P${Fingerprint.hashString(s"s1:$k")}-${Fingerprint.hashString(s"s2:$k")}"
    val keys = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("CAST(c_custkey AS BIGINT)").collect().map(_.getLong(0))
    val toks = keys.map(token)
    assert(toks.distinct.length == keys.distinct.length)
    keys.take(5).foreach { k =>
      assert(Fingerprint.hashString(s"s1:$k") != Fingerprint.hashString(s"s2:$k"))
      assert(!token(k).contains(s"P$k-"))
    }
  }

  test("q282: HLL estimates replay from a set-fold and sit inside the error band") {
    import graft.functions.Fingerprint
    val rows = PipelineOps.q282HllAudit(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set("orders_pk", "lineitem_fk", "lineitem_pk"))
    // m=256 gives 1.04/sqrt(m) = 6.5% std error; 20% ~= 3 sigma
    rows.values.foreach { case (_, _, _, err) => assert(math.abs(err) <= 200000L) }
    // pure-Scala sketch replay over the DISTINCT value set — equality with
    // the query's duplicated-stream estimate proves the register fold is
    // duplicate-blind (the mergeability property HLL exists for)
    def estimate(values: Set[Long]): Long = {
      val regs = new Array[Long](256)
      values.foreach { v =>
        val fp = Fingerprint.hashString(v.toString)
        val hh = fp * fp / 65536L
        val idx = (hh % 256L).toInt
        val reg = math.min(java.lang.Long.numberOfTrailingZeros(hh / 256L) + 1, 32).toLong
        if (reg > regs(idx)) regs(idx) = reg
      }
      val t = regs.map(r => if (r == 0L) 4294967296L else 1L << (32 - r).toInt).sum
      718273L * (281474976710656L / t) / 1000000L
    }
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("CAST(l_orderkey AS BIGINT) AS k", "CAST(l_linenumber AS BIGINT) AS n")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows("lineitem_fk")._3 == estimate(li.map(_._1).toSet))
    assert(rows("lineitem_pk")._3 == estimate(li.map(p => p._1 * 8L + p._2).toSet))
    assert(rows("lineitem_fk")._1 == li.length.toLong) // dups were observed
    assert(rows("lineitem_fk")._2 == li.map(_._1).distinct.length.toLong)
  }

  test("q312: KLL summary compacts, totals n, bounds hold, and MERGES on real halves") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_orderkey").cast("long") * 8 +
        col("l_linenumber").cast("long")).as("id"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val all = base.collect().map(r => (r.getLong(1), r.getLong(0)))
      .sortBy(identity) // (cents, id) total order
    val n = all.length.toLong
    // true rank of a (cents, id) pair = items strictly below it + 1
    // (duplicate-invariant — the q288 non-unique-id lesson)
    def trueRank(p: (Long, Long)): Long =
      all.count(x => x._1 < p._1 || (x._1 == p._1 && x._2 < p._2)) + 1L
    def estimate(sum: Array[(Long, Long, Long)], t: Long): (Long, Long) = {
      var cw = 0L
      val hit = sum.find { case (_, _, w) => cw += w; cw >= t }.get
      (hit._1, hit._2)
    }
    // cap 16 forces REAL compaction at sf0.001 (n_b ~94 -> level 3;
    // the shipped cap 128 only compacts from sf0.01 up)
    val (s16, n16, bound16) = graft.ops.PipelineOps.kllSummary(base, 64, 16)
    assert(n16 == n)
    assert(s16.map(_._3).sum == n, "tail-exact weights must total n")
    assert(s16.length <= 64 * 16, "summary must respect shards*cap")
    assert(s16.exists(_._3 > 1L), "cap 16 must actually compact at this SF")
    val targets = (1 to 9).map(d => (d * n) / 10 + 1)
    targets.foreach { t =>
      val err = trueRank(estimate(s16, t)) - t
      assert(math.abs(err) <= bound16, s"target $t err $err bound $bound16")
    }
    // merge property (q293's discipline, additive-bound form): the union
    // of the two id-parity halves' sketches is a valid sketch of the
    // full corpus with bound <= bound(h1) + bound(h2).
    val (h1, _, b1) = graft.ops.PipelineOps.kllSummary(
      base.filter(pmod(col("id"), lit(2)) === 0), 64, 16)
    val (h2, _, b2) = graft.ops.PipelineOps.kllSummary(
      base.filter(pmod(col("id"), lit(2)) === 1), 64, 16)
    val merged = (h1 ++ h2).sortBy(r => (r._1, r._2))
    assert(merged.map(_._3).sum == n, "half weights must total n")
    targets.foreach { t =>
      val err = trueRank(estimate(merged, t)) - t
      assert(math.abs(err) <= b1 + b2,
        s"merged target $t err $err bound ${b1 + b2}")
    }
  }

  test("q318: DP geometric noise replays; accounting and clamping hold") {
    import graft.functions.Fingerprint
    val got = PipelineOps.q318DpMechanism(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.nonEmpty)
    def geom(tag: String, src: String): Long = {
      val fp = Fingerprint.hashString(s"$tag:$src")
      val w = fp * fp / 65536L
      if (w == 0L) 0L else java.lang.Long.numberOfTrailingZeros(w).toLong
    }
    val trueCounts = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source").collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    got.foreach { case (src, tc, noise, rel, absn, eps, epsTot) =>
      assert(tc == trueCounts(src))
      assert(noise == geom("dp1", src) - geom("dp2", src), s"$src noise")
      assert(rel == math.max(0L, tc + noise), s"$src clamp")
      assert(absn == math.abs(noise))
      assert(eps == 693L && epsTot == 693L * got.length, s"$src accounting")
    }
    // the draws are genuinely two-sided and non-degenerate
    assert(got.exists(_._3 > 0L) && got.exists(_._3 < 0L),
      "noise must take both signs across sources")
  }

  test("q316: bloom skipping replays; no false negatives; minmax blind on point lookups") {
    import graft.functions.Fingerprint
    val got = PipelineOps.q316BloomSkipping(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // Bloom guarantee: never a false negative; never worse than min-max
    // on present keys; min-max reads (nearly) everything for them
    got.filter(_._2 == 1L).foreach { case (k, _, t, mmx, bl) =>
      assert(bl >= t, s"probe $k: bloom must contain every true file")
      assert(bl <= mmx, s"probe $k")
      assert(mmx >= 32L, s"probe $k: minmax should be near-blind here")
    }
    got.filter(_._2 == 0L).foreach { case (k, _, t, mmx, _) =>
      assert(t == 0L && mmx == 0L, s"absent probe $k")
    }
    assert(got.filter(_._2 == 1L).map(_._5).sum * 2 <
      got.filter(_._2 == 1L).map(_._4).sum,
      "bloom must read far fewer total files than minmax on present keys")
    // full driver replay from raw rows
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(o_orderkey AS BIGINT)", "CAST(o_custkey AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = orders.length
    val filed = orders.sortBy(_._1).zipWithIndex
      .map { case ((_, c), i) => (i.toLong * 64L / n, c) }
    def pos(key: Long): Seq[Long] = (0 to 2).map { j =>
      val fp = Fingerprint.hashString(s"$key:$j")
      Math.floorMod(fp * fp / 65536L, 4096L)
    }
    val blooms: Map[Long, Map[Long, Long]] = filed.distinct.groupBy(_._1)
      .view.mapValues { fs =>
        fs.map(_._2).distinct.flatMap(pos).groupBy(_ / 32L)
          .view.mapValues(_.map(h => 1L << (h % 32L).toInt)
            .reduce(_ | _)).toMap
      }.toMap
    val zones = filed.groupBy(_._1).view
      .mapValues(fs => (fs.map(_._2).min, fs.map(_._2).max)).toMap
    val presentProbes = orders.map(_._2).distinct.filter(_ % 61L == 17L)
    val expect = (presentProbes.map(p => (p, 1L)) ++
      presentProbes.map(p => (p + 10000000L, 0L))).map { case (p, pr) =>
      val t = filed.filter(_._2 == p).map(_._1).distinct.length.toLong
      val mmx = zones.count { case (_, (mn, mx)) => p >= mn && p <= mx }.toLong
      val ps = pos(p)
      val bl = blooms.count { case (_, words) =>
        ps.forall(h => (words.getOrElse(h / 32L, 0L) & (1L << (h % 32L).toInt)) != 0L)
      }.toLong
      (p, pr, t, mmx, bl)
    }.sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
  }

  test("q315: IPF raking replays, converges, and both margins land within rounding") {
    val got = PipelineOps.q315CompositionRaking(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val cells0 = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((l, src), n) => (l, src, n) }.sortBy(c => (c._1, c._2))
    val n = cells0.map(_._3).sum
    def tgt(keys: Seq[String]): Map[String, Long] = {
      val L = keys.length
      keys.sorted.zipWithIndex.map { case (k, i) =>
        k -> (n / L + (if (i < (n % L)) 1L else 0L))
      }.toMap
    }
    val lt = tgt(cells0.map(_._1).distinct)
    val st = tgt(cells0.map(_._2).distinct)
    def rounds(r: Int): Seq[(String, String, Long, Long)] = {
      var cells = cells0.map(c => (c._1, c._2, c._3, 1000000L)).toSeq
      (1 to r).foreach { _ =>
        cells = PipelineOps.ipfStep(cells, lt, byRow = true)
        cells = PipelineOps.ipfStep(cells, st, byRow = false)
      }
      cells
    }
    def rowErr(cells: Seq[(String, String, Long, Long)]): Long =
      cells.groupBy(_._1).map { case (l, cs) =>
        math.abs(cs.map(c => c._3 * c._4).sum / 1000000L - lt(l))
      }.max
    val fin = rounds(3)
    // full replay: weights and margins equal the operator's frame
    val expect = fin.sortBy(c => (c._1, c._2)).map { c =>
      val rm = fin.filter(_._1 == c._1).map(x => x._3 * x._4).sum / 1000000L
      val cm = fin.filter(_._2 == c._2).map(x => x._3 * x._4).sum / 1000000L
      (c._1, c._2, c._3, c._4, lt(c._1), rm, st(c._2), cm)
    }
    assert(got.toSeq == expect)
    // convergence: three rounds are no worse than one, and the final
    // row margin is within per-cell truncation of target
    assert(rowErr(fin) <= rowErr(rounds(1)))
    val nSources = cells0.map(_._2).distinct.length.toLong
    assert(rowErr(fin) <= nSources,
      "final lang margins must land within truncation rounding of target")
    assert(got.forall(_._4 > 0L), "weights stay positive")
  }

  test("q313: spans replay, coalesce adjacents, and mask application kills every hit") {
    import graft.ops.{PiiPatterns, SecretPatterns}
    val got = graft.ops.PipelineOps.q313LossMasks(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "source",
        "coalesce(text, '') AS text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def m(id: Long, k: Long) = ((id % k) + k) % k
    def t2(id: Long, src: String, text: String): String = {
      val sb = new StringBuilder(text)
      sb.append("\n(C) ").append(src).append(" syndication network")
      if (m(id, 3) != 2) sb.append("\nsubscribe at ").append(src).append(" daily digest")
      sb.append("\nsection ").append(m(id, 7)).append(" notes")
      val em = s"\nreach me at user${m(id, 1000)}@example.com"
      val sec = f"\ntoken=secretvaluepad${m(id, 1000)}%03d"
      m(id, 5) match {
        case 1 => sb.append(em)
        case 2 => sb.append(sec)
        case 3 => sb.append("\nstop <|endoftext|> marker ").append(m(id, 7))
        case 4 => sb.append(em).append(sec)
        case _ =>
      }
      sb.toString
    }
    val pii = Seq(PiiPatterns.Email, PiiPatterns.Ipv4, PiiPatterns.LongNumber)
      .map(java.util.regex.Pattern.compile)
    val sec = Seq(SecretPatterns.HexRun, SecretPatterns.AwsKeyId,
      SecretPatterns.CredAssign).map(java.util.regex.Pattern.compile)
    val spec = Seq(graft.ops.PipelineOps.ReservedTokens,
      graft.ops.PipelineOps.ChatMarkers, graft.ops.PipelineOps.FimSentinels)
      .map(java.util.regex.Pattern.compile)
    def hits(ps: Seq[java.util.regex.Pattern], s: String) =
      ps.exists(_.matcher(s).find())
    val allLines = docs.map { case (id, src, tx) =>
      (id, src, t2(id, src, tx).split("\n", -1)) }
    // q267's boilerplate rule, replayed
    val srcN = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // NOTE: .iterator before .collect — Map#collect with pair results
    // re-keys into a Map and silently drops all but one line per source
    val boiler: Set[(String, String)] = allLines
      .flatMap { case (id, src, ls) => ls.distinct.map(l => (src, l, id)) }
      .groupBy(t => (t._1, t._2)).iterator.collect {
        case ((src, l), g)
          if g.map(_._3).distinct.length >= 2 &&
            g.map(_._3).distinct.length * 1000000L / srcN(src) >= 200000L =>
          (src, l)
      }.toSet
    var sawCoalesced = false
    def fp(s: String): Long = s.getBytes("UTF-8")
      .foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    allLines.foreach { case (id, src, ls) =>
      val masked = ls.map(l => hits(pii, l) || hits(sec, l) ||
        hits(spec, l) || boiler((src, l)))
      // codepoint offsets (not UTF-16 units) + gaps-and-islands coalescing
      def cp(l: String): Long = l.codePointCount(0, l.length).toLong
      val offs = ls.scanLeft(0L)((a, l) => a + cp(l) + 1)
      val spans = ls.indices.filter(masked).foldLeft(List.empty[(Long, Long)]) {
        case (acc, i) =>
          val (st, en) = (offs(i), offs(i) + cp(ls(i)))
          acc match {
            case (ps, pe) :: tail if pe + 1 == st => (ps, en) :: tail
            case _ => (st, en) :: acc
          }
      }.reverse
      val row = got(id)
      assert(row.getAs[Long]("n_lines") == ls.length.toLong, s"doc $id")
      assert(row.getAs[Long]("n_masked_lines") == masked.count(identity).toLong, s"doc $id")
      assert(row.getAs[Long]("n_spans") == spans.length.toLong, s"doc $id spans")
      assert(row.getAs[Long]("masked_chars") ==
        spans.map(p => p._2 - p._1).sum, s"doc $id chars")
      assert(row.getAs[Long]("spans_fp") ==
        fp(spans.map(p => s"${p._1}-${p._2}").mkString(",")), s"doc $id spans_fp")
      // mask APPLICATION: dropping masked lines kills every detector hit
      val kept = ls.indices.filterNot(masked).map(ls).mkString("\n")
      assert(row.getAs[Long]("kept_fp") == fp(kept), s"doc $id kept_fp")
      assert(!hits(pii, kept) && !hits(sec, kept) && !hits(spec, kept),
        s"doc $id: applied mask must leave zero detector hits")
      if (m(id, 5) == 4 && row.getAs[Long]("n_pii_lines") >= 1 &&
        row.getAs[Long]("n_secret_lines") >= 1 &&
        spans.length < masked.count(identity)) sawCoalesced = true
    }
    assert(sawCoalesced,
      "at least one class-4 doc must coalesce adjacent pii+secret lines into one span")
  }

  test("q332: natural order fails both ways, the shuffle passes, z² replays in BigInt") {
    val rows = PipelineOps.q332RunsTest(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    def g(attr: String, ord: String, col: String) =
      rows((attr, ord)).getAs[Long](col)
    // the round-robin ingest layout: src_even alternates EVERY document
    // (runs = n, z deeply positive), src_low forms 10-long blocks
    // (runs << n, z deeply negative) — both flagged non-random
    assert(g("src_even", "natural", "n_runs") == g("src_even", "natural", "n"))
    assert(g("src_even", "natural", "z_sign") == 1L)
    assert(g("src_even", "natural", "looks_random") == 0L)
    assert(g("src_low", "natural", "n_runs") < g("src_low", "natural", "n") / 5L)
    assert(g("src_low", "natural", "z_sign") == -1L)
    assert(g("src_low", "natural", "looks_random") == 0L)
    // the fingerprint shuffle passes two-sided for both attributes
    Seq("src_even", "src_low").foreach { a =>
      assert(g(a, "shuffled", "looks_random") == 1L, s"$a shuffled")
      assert(g(a, "shuffled", "z2_milli") < 3842L)
    }
    // independent BigInt replay of the cleared-denominator statistic
    rows.values.foreach { r =>
      val (n, n1, runs) = (r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
        r.getAs[Long]("n_runs"))
      val n0 = n - n1
      val dev = n * (runs - 1L) - 2L * n1 * n0
      val den = BigInt(2L * n1 * n0) * (2L * n1 * n0 - n)
      val want = if (den <= 0) -1L
        else (BigInt(1000) * dev * dev * (n - 1L) / den).toLong
      assert(r.getAs[Long]("z2_milli") == want)
      assert(r.getAs[Long]("z_sign") ==
        (if (dev > 0) 1L else if (dev < 0) -1L else 0L))
    }
  }

  test("q330: span corruption replays driver-side and the round-trip splice restores every doc") {
    import spark.implicits._
    val got = PipelineOps.q330SpanCorruption(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def fp(s: String): Long = graft.functions.Fingerprint.hashString(s)
    var corrTot = 0L; var tokTot = 0L
    docs.foreach { case (id, text) =>
      val ws = Option(text).getOrElse("").split(" ", -1).filter(_.nonEmpty)
      if (ws.nonEmpty) {
        val h = ws.indices.map { i =>
          val f = fp(s"$id:$i"); (f * f) / 65536L
        }
        val isStart = h.map(_ % 20L == 0L)
        val slen = h.map(x => 2L + (x / 20L) % 3L)
        val corrupted = ws.indices.map(i => (0 to 3).exists(k =>
          i - k >= 0 && isStart(i - k) && slen(i - k) > k))
        val newSpan = ws.indices.map(i =>
          corrupted(i) && (i == 0 || !corrupted(i - 1)))
        var ord = -1
        val inp = new StringBuilder; val tgt = new StringBuilder
        ws.indices.foreach { i =>
          if (newSpan(i)) {
            ord += 1
            if (inp.nonEmpty) inp += ' '
            inp ++= s"<extra_id_$ord>"
            if (tgt.nonEmpty) tgt += ' '
            tgt ++= s"<extra_id_$ord> ${ws(i)}"
          } else if (corrupted(i)) {
            tgt ++= s" ${ws(i)}"
          } else {
            if (inp.nonEmpty) inp += ' '
            inp ++= ws(i)
          }
        }
        val nSpans = ord + 1
        val tgtFull = if (nSpans == 0) tgt.toString
          else s"$tgt <extra_id_$nSpans>"
        val row = got(id)
        assert(row.getAs[Long]("n_tokens") == ws.length.toLong, s"doc $id")
        assert(row.getAs[Long]("n_spans") == nSpans.toLong, s"doc $id spans")
        assert(row.getAs[Long]("input_fp") == fp(inp.toString), s"doc $id inp")
        assert(row.getAs[Long]("target_fp") == fp(tgtFull), s"doc $id tgt")
        corrTot += row.getAs[Long]("n_corrupted"); tokTot += ws.length
        // round-trip theorem: splicing each target span back at its
        // sentinel restores the original token stream exactly
        val spans = tgtFull.split("<extra_id_\\d+>").map(_.trim)
          .filter(_.nonEmpty)
        var k = 0
        val restored = inp.toString.split(" ", -1).flatMap { tok =>
          if (tok.matches("<extra_id_\\d+>")) {
            k += 1; spans(k - 1).split(" ", -1)
          } else Array(tok)
        }
        assert(restored.toSeq == ws.toSeq, s"doc $id round-trip")
      }
    }
    // the corruption rate lands near T5's ~15% (1/20 starts x mean 3)
    val ppm = corrTot * 1000000L / tokTot
    assert(ppm > 80000L && ppm < 250000L, s"corrupted ppm $ppm")
  }

  test("q329: the planted singleton category exposes naive leakage; ordered stays at the prior") {
    val rows = PipelineOps.q329TargetEncoding(spark, sf).collect()
    val byCat = rows.map(r => r.getString(0) -> r).toMap
    val prior = rows.head.getAs[Long]("prior_ppm")
    // global prior reconciles with the per-category masses
    assert(prior == rows.map(_.getAs[Long]("n_pos")).sum * 1000000L /
      rows.map(_.getAs[Long]("n_rows")).sum)
    // the leakage extreme: a single-row category's naive encoding IS its
    // own target (train MAE 0 — pure memorization); the ordered
    // statistic has never seen the category and returns the prior
    val p = byCat("X-PLANT")
    assert(p.getAs[Long]("n_rows") == 1L && p.getAs[Long]("n_pos") == 1L)
    assert(p.getAs[Long]("naive_enc_ppm") == 1000000L)
    assert(p.getAs[Long]("mae_naive_ppm") == 0L)
    assert(p.getAs[Long]("mean_ordered_ppm") == prior)
    assert(p.getAs[Long]("leak_gap_ppm") == 1000000L - prior)
    // large natural categories: both encodings near the category mean,
    // leakage gap small (measured |gap| <= 3116 at sf0.01)
    rows.filter(_.getString(0) != "X-PLANT").foreach { r =>
      assert(math.abs(r.getAs[Long]("leak_gap_ppm")) < 50000L,
        s"${r.getString(0)} gap ${r.getAs[Long]("leak_gap_ppm")}")
      val mo = r.getAs[Long]("mean_ordered_ppm")
      assert(mo >= 0L && mo <= 1000000L)
    }
  }

  test("q324: planted low-resource languages hit the epoch cap exactly; the pool conserves") {
    import spark.implicits._
    // plant two tiny languages (negative ids): their 3-epoch ceiling is
    // far below any uniform share, so UniMax must cap them at EXACTLY
    // 3000 permille epochs and hand the savings down the waterfall
    val dir = java.nio.file.Files.createTempDirectory("unimax_plant").toString
    val plantDocs = Seq(
      (-401L, Array.fill(10)("aa").mkString(" "), "aa", "planted"),
      (-402L, Array.fill(20)("bb").mkString(" "), "bb", "planted"))
    graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionAll(plantDocs.map { case (id, t, l, src) =>
        (id, t, l, src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val rows = PipelineOps.q324UnimaxBudget(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toMap
    Seq("aa" -> 10L, "bb" -> 20L).foreach { case (l, n) =>
      val (nTok, cap, b, capped, epochs) = rows(l)
      assert(nTok == n && cap == 3 * n && b == 3 * n,
        s"$l budget $b cap $cap")
      assert(capped == 1L && epochs == 3000L, s"$l epochs $epochs")
    }
    // the largest language is uncapped here, so it absorbs the full
    // remaining pool: allocations conserve the 2x-corpus budget exactly
    val totalTokens = rows.values.map(_._1).sum
    assert(rows.values.map(_._3).sum == 2L * totalTokens)
    // independent waterfall replay from the reported inputs
    var r = 2L * totalTokens
    var m = rows.size.toLong
    rows.toSeq.sortBy { case (l, v) => (v._1, l) }.foreach { case (l, v) =>
      val share = r / m
      val b = math.min(share, 3L * v._1)
      assert(v._3 == b, s"$l waterfall: got ${v._3} want $b")
      assert(v._4 == (if (3L * v._1 <= share) 1L else 0L), s"$l capped flag")
      r -= b; m -= 1
    }
  }

  test("q321: planted target-twin corpus — weights order by target likeness, selection shifts") {
    import spark.implicits._
    // DSIR must select target-LIKE documents, not target-LABELED ones:
    // plant (negative ids, vocabulary foreign to the corpus)
    //  - 12 docs lang='en' with target-only grams (they DEFINE the target
    //    model's mass in those buckets; 12 anchors vs 6 twins keeps the
    //    twins' own raw mass from diluting the bucket ratio below the
    //    selection threshold — measured: 8 half-bits at 6/6, 71 at 12/6),
    //  - 6 docs lang='xx'  with the SAME grams — target-like but not
    //    target-labeled: DSIR must pull them in,
    //  - 6 docs lang='yy'  with different foreign grams that appear ONLY
    //    in raw — the target model has never seen them, so their
    //    importance weight must go NEGATIVE and they must not be selected.
    val tgtText = Array.fill(12)("qqalpha qqbeta qqgamma qqdelta qqepsilon")
      .mkString(" ")
    val rawText = Array.fill(12)("zzalpha zzbeta zzgamma zzdelta zzepsilon")
      .mkString(" ")
    val plants =
      (1 to 12).map(i => (-100L - i, tgtText, "en", "planted")) ++
      (1 to 6).map(i => (-200L - i, tgtText, "xx", "planted")) ++
      (1 to 6).map(i => (-300L - i, rawText, "yy", "planted"))
    val dir = java.nio.file.Files.createTempDirectory("dsir_plant").toString
    graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionAll(plants.map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val rep = PipelineOps.q321DsirResample(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val (xxRaw, xxRawPpm, xxLlw, xxSel, xxSelPpm) = rep("xx")
    val (yyRaw, _, yyLlw, yySel, _) = rep("yy")
    assert(xxRaw == 6L && yyRaw == 6L)
    // target-like twins: strongly positive weight, fully selected, and
    // over-represented vs their raw share
    assert(xxLlw > 0L, s"xx sum_llw=$xxLlw")
    assert(xxSel == 6L, s"xx n_sel=$xxSel")
    assert(xxSelPpm > xxRawPpm, s"xx sel=$xxSelPpm raw=$xxRawPpm")
    // raw-only foreign docs: negative weight, never selected
    assert(yyLlw < 0L, s"yy sum_llw=$yyLlw")
    assert(yySel == 0L, s"yy n_sel=$yySel")
    // per-doc ordering: xx twins carry more weight per doc than any
    // natural language's average (they are pure target-bucket mass)
    val langs = rep.keySet -- Set("xx", "yy")
    langs.foreach { l =>
      val (n, _, llw, _, _) = rep(l)
      assert(xxLlw / 6L > llw / n, s"xx avg must exceed $l avg")
    }
  }

  test("q337: planted easy/hard domains move in opposite directions under the hedge loop") {
    val rows = PipelineOps.q337DoremiReweight(spark, sf).collect()
    val bySrc = rows.map(r => r.getString(0) -> r).toMap
    val e = bySrc("plantE"); val h = bySrc("plantH")
    // the cycle domain is perfectly predictable: loss exactly 0, excess
    // exactly 0 — the only domain whose multiplier is flat, so it can
    // only shed mass
    assert(e.getAs[Long]("loss_ppm") == 0L && e.getAs[Long]("excess_ppm") == 0L)
    assert(e.getAs[Long]("drift_ppm") < 0L)
    assert(e.getAs[Long]("w_final_ppm") < e.getAs[Long]("w_init_ppm") / 10L,
      "easy domain must collapse, not just dip")
    // the uniform-fanout walk is the hardest domain at every SF (~13k
    // pred vs the ~34k uniform salad) and must gain every round
    assert(h.getAs[Long]("excess_ppm") ==
      rows.map(_.getAs[Long]("excess_ppm")).max)
    assert(h.getAs[Long]("drift_ppm") > 0L)
    rows.filter(r => r.getString(0).startsWith("src")).foreach { r =>
      assert(math.abs(r.getAs[Long]("drift_ppm")) < h.getAs[Long]("drift_ppm"),
        s"natural ${r.getString(0)} must move less than the hard plant")
    }
    // trajectory direction: a monotone-decreasing weight averages above
    // its final value; a monotone-increasing one averages below
    assert(e.getAs[Long]("w_avg_ppm") > e.getAs[Long]("w_final_ppm"))
    assert(h.getAs[Long]("w_avg_ppm") < h.getAs[Long]("w_final_ppm"))
    // each round renormalizes to 1e6 ppm; the final row set may only
    // lose the per-domain truncation remainders
    val tot = rows.map(_.getAs[Long]("w_final_ppm")).sum
    assert(tot <= 1000000L && tot >= 1000000L - rows.length)
    // independent replay of the 10 hedge rounds from the report's own
    // loss/pair columns
    val base = rows.map(r => (r.getAs[Long]("n_pairs"),
      r.getAs[Long]("excess_ppm"))).toSeq
    val tp = base.map(_._1).sum
    var w = base.map(_._1 * 1000000L / tp)
    (1 to 10).foreach { _ =>
      val u = w.zip(base).map { case (wi, (_, x)) => wi * (1000000L + x) }
      val t = u.sum
      w = u.map(_ * 1000000L / t)
    }
    rows.zip(w).foreach { case (r, wi) =>
      assert(r.getAs[Long]("w_final_ppm") == wi, s"replay: ${r.getString(0)}")
    }
  }

  test("q338: isotonic fit is monotone, pools the mislabeled ties, and beats the prior") {
    val rows = PipelineOps.q338IsotonicCalibration(spark, sf).collect()
      .sortBy(_.getAs[Long]("score_half"))
    assert(rows.length >= 10)
    // monotone non-decreasing calibrated probabilities
    rows.sliding(2).foreach { p =>
      assert(p(0).getAs[Long]("iso_ppm") <= p(1).getAs[Long]("iso_ppm"))
    }
    // the two mislabeled extremes tie their twins into 1/2-rate bins;
    // both violate monotonicity and MUST be pooled away from 500000
    val halves = rows.filter(_.getAs[Long]("raw_ppm") == 500000L)
    assert(halves.length == 2, s"expected the two mislabeled ties")
    halves.foreach(r =>
      assert(r.getAs[Long]("iso_ppm") != 500000L, s"unpooled tie: $r"))
    // Brier ordering: raw (unconstrained per-bin fit) <= isotonic <=
    // the single global prior
    val nPos = rows.map(_.getAs[Long]("n_pos")).sum
    val nAll = rows.map(_.getAs[Long]("n_cal")).sum
    val prior = nPos * 1000000L / nAll
    val priorSse = rows.map { r =>
      val (p, n) = (r.getAs[Long]("n_pos"), r.getAs[Long]("n_cal"))
      p * (1000000L - prior) * (1000000L - prior) + (n - p) * prior * prior
    }.sum
    val rawSse = rows.map(_.getAs[Long]("raw_sse_ppm2")).sum
    val isoSse = rows.map(_.getAs[Long]("iso_sse_ppm2")).sum
    assert(rawSse <= isoSse && isoSse <= priorSse,
      s"raw=$rawSse iso=$isoSse prior=$priorSse")
    // every corpus document lands in exactly one bin
    val nCorpus = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_corpus")).sum == nCorpus)
    // third implementation: the minimax formulation (the oracle's
    // algorithm) recomputed here must equal the driver's PAV output —
    // floor commutes with max/min, so the two are provably equal
    val bins = rows.map(r => (r.getAs[Long]("n_cal"), r.getAs[Long]("n_pos")))
    val n = bins.length
    val cn = bins.scanLeft(0L)(_ + _._1)
    val cp = bins.scanLeft(0L)(_ + _._2)
    def avgf(a: Int, b: Int): Long =
      (cp(b + 1) - cp(a)) * 1000000L / (cn(b + 1) - cn(a))
    rows.zipWithIndex.foreach { case (r, i) =>
      val mm = (0 to i).map(a => (i until n).map(b => avgf(a, b)).min).max
      assert(r.getAs[Long]("iso_ppm") == mm, s"minimax mismatch at bin $i")
    }
  }

  test("q334: plants separate, chosen row is the max-F1 operating point") {
    val rows = PipelineOps.q334QualityClassifier(spark, sf).collect()
    assert(rows.length >= 10, "sweep must have many distinct thresholds")
    val thrs = rows.map(_.getAs[Long]("thr_half"))
    assert(thrs.sameElements(thrs.sorted), "ordered by threshold")
    // plant ordering: every core positive outscores every core negative —
    // with only the two MISLABELED extremes crossing, some threshold
    // classifies 20/21 positives with a single false positive
    val chosen = rows.filter(_.getAs[Long]("chosen") == 1L)
    assert(chosen.length == 1, "exactly one operating point")
    val c = chosen.head
    assert(c.getAs[Long]("tp") == 20L && c.getAs[Long]("fp") == 1L &&
      c.getAs[Long]("fn") == 1L,
      s"chosen row must miss exactly the mislabeled pair: $c")
    val maxF1 = rows.map(_.getAs[Long]("f1_ppm")).max
    assert(c.getAs[Long]("f1_ppm") == maxF1)
    // tie-break: smallest threshold among max-F1 rows
    assert(c.getAs[Long]("thr_half") ==
      rows.filter(_.getAs[Long]("f1_ppm") == maxF1)
        .map(_.getAs[Long]("thr_half")).min)
    rows.foreach { r =>
      val (tp, fp, fn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
        r.getAs[Long]("fn"))
      assert(tp + fn == 21L, "every sweep row sees all 21 positives")
      assert(r.getAs[Long]("prec_ppm") == tp * 1000000L / (tp + fp))
      assert(r.getAs[Long]("rec_ppm") == tp * 1000000L / 21L)
      assert(r.getAs[Long]("f1_ppm") == 2L * tp * 1000000L / (2L * tp + fp + fn))
      val ag = r.getAs[Long]("heur_agree_ppm")
      assert(ag >= 0L && ag <= 1000000L)
    }
    // corpus keep-count is monotone non-increasing in the threshold
    val keeps = rows.map(_.getAs[Long]("n_corpus_pred_pos"))
    keeps.sliding(2).foreach(p => assert(p(0) >= p(1), "monotone keeps"))
  }

  test("q334: engine scoring expression ≡ driver fold (plants as the corpus)") {
    import spark.implicits._
    // run the operator with the plant TEXTS as the documents table: the
    // engine's narrow HOF scoring expression then scores exactly the
    // texts the driver fold scored, so every sweep row must satisfy
    // n_corpus_pred_pos == tp + fp — a cross-implementation equality
    // between the codegen'd SQL path and the Scala replay, byte-exact
    val dir = java.nio.file.Files.createTempDirectory("q334_plant").toString
    PipelineOps.QualityPlant.zipWithIndex
      .map { case ((_, _, t), i) => (i + 1L, t, "xx", "planted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = PipelineOps.q334QualityClassifier(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_corpus_pred_pos") ==
        r.getAs[Long]("tp") + r.getAs[Long]("fp"),
        s"engine histogram diverges from driver plant scores at $r")
    }
  }

  // ------------------------------------------------------------- X329

  test("q353: thresholds reconcile with q334 and the exact median; shares add up") {
    import spark.implicits._
    val rows = PipelineOps.q353FilterApply(spark, sf).collect()
    assert(rows.nonEmpty)
    // cross-operator agreement: the execution's plant threshold is the
    // SAME operating point q334's sweep marks chosen (independent
    // derivations — q334ChosenThr vs the frame's chosen row)
    val q334Chosen = PipelineOps.q334QualityClassifier(spark, sf).collect()
      .filter(_.getAs[Long]("chosen") == 1L).head.getAs[Long]("thr_half")
    assert(rows.forall(_.getAs[Long]("thr_half") == q334Chosen),
      "execution threshold must be q334's chosen operating point")
    // independent median replay: score the corpus through the shared
    // expression, take the ⌈n/2⌉-th largest score with a plain sort
    val scores = graft.sources.Tables.load(spark, sf, "documents")
      .select(PipelineOps.q334ScoreExpr(PipelineOps.q334Weights).as("score"))
      .as[Long].collect().sorted(Ordering[Long].reverse)
    val k = ((scores.length + 1) / 2) - 1
    val tMed = scores(k)
    assert(rows.forall(_.getAs[Long]("thr_med") == tMed),
      s"median threshold must be the ${k + 1}-th largest score $tMed")
    // the median cut keeps at least half (boundary ties keep extra),
    // and cutting strictly above the median value would keep less
    val nKeepMed = rows.map(_.getAs[Long]("n_keep_med")).sum
    assert(nKeepMed == scores.count(_ >= tMed))
    assert(nKeepMed >= (scores.length + 1) / 2)
    assert(scores.count(_ > tMed) < (scores.length + 1) / 2,
      "thr_med must be the LARGEST value keeping at least half")
    // per-row arithmetic + global share accounting
    val nAll = rows.map(_.getAs[Long]("n_docs")).sum
    rows.foreach { r =>
      val nd = r.getAs[Long]("n_docs")
      val nk = r.getAs[Long]("n_keep")
      val nkm = r.getAs[Long]("n_keep_med")
      assert(nk <= nd && nkm <= nd)
      assert(r.getAs[Long]("keep_ppm") == nk * 1000000L / nd)
      assert(r.getAs[Long]("keep_med_ppm") == nkm * 1000000L / nd)
      assert(r.getAs[Long]("chars_kept") <= r.getAs[Long]("chars_total"))
      assert(r.getAs[Long]("chars_kept_med") <= r.getAs[Long]("chars_total"))
      assert(r.getAs[Long]("share_before_ppm") == nd * 1000000L / nAll)
    }
    val shareAfterMed = rows.map(_.getAs[Long]("share_after_med_ppm")).sum
    assert(shareAfterMed > 1000000L - rows.length &&
      shareAfterMed <= 1000000L, s"after-shares must sum to ~1e6: $shareAfterMed")
  }

  // ------------------------------------------------------------- X330

  test("q354: planted K6 family recovers its label, isolated node stays unpredicted") {
    val rows = PipelineOps.q354LabelPropagation(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    // the 6-doc 'xx' family shares ONE rare 5-gram (a K6): the two seeds
    // clamp at 1e6 and the four unseeded members are connected ONLY to
    // family, so every one of them must inherit 'xx' with full mass
    val xx = rows("xx")
    assert(xx.getAs[Long]("n_docs") == 6L && xx.getAs[Long]("n_seed") == 2L)
    assert(xx.getAs[Long]("n_unseeded") == 4L)
    assert(xx.getAs[Long]("n_pred") == 4L && xx.getAs[Long]("n_correct") == 4L)
    assert(xx.getAs[Long]("coverage_ppm") == 1000000L)
    assert(xx.getAs[Long]("acc_ppm") == 1000000L)
    // the isolated 'xy' doc has only unique grams — no edges, no mass,
    // no prediction: the coverage-miss path
    val xy = rows("xy")
    assert(xy.getAs[Long]("n_docs") == 1L && xy.getAs[Long]("n_seed") == 0L)
    assert(xy.getAs[Long]("n_pred") == 0L)
    assert(xy.getAs[Long]("coverage_ppm") == 0L && xy.getAs[Long]("acc_ppm") == 0L)
    // accounting on every row
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_seed") + r.getAs[Long]("n_unseeded") ==
        r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_pred"))
      assert(r.getAs[Long]("n_pred") <= r.getAs[Long]("n_unseeded"))
    }
    // corpus langs exist alongside the plants and some corpus node got a
    // prediction (the rare-gram graph is sparse but not empty)
    val corpusPred = rows.iterator
      .collect { case (l, r) if l != "xx" && l != "xy" =>
        r.getAs[Long]("n_pred") }.sum
    assert(corpusPred > 0L, "rare-gram graph must connect some corpus docs")
  }

  // ------------------------------------------------------------- X340

  test("q363: null accepts, effect rejects, crossing replays from the raw trials") {
    val rows = PipelineOps.q363SprtGate(spark, sf).collect()
      .map(r => r.getAs[String]("scope") -> r).toMap
    assert(rows.size == 3)
    // the two SF-invariant planted streams: a p0-rate stream must
    // accept H0, a p1-rate stream must reject — Wald's guarantee says
    // each errs with probability <= 5%, and these fixed hash draws land
    // on the right side
    assert(rows("null").getAs[Long]("decision") == -1L)
    assert(rows("effect").getAs[Long]("decision") == 1L)
    rows.values.foreach { r =>
      val dec = r.getAs[Long]("decision")
      val llr = r.getAs[Long]("llr_dec")
      val bound = r.getAs[Long]("bound")
      if (dec != 0L) {
        assert(math.abs(llr) >= bound, s"decision without a crossing: $r")
        assert((dec == 1L) == (llr >= bound))
        assert(r.getAs[Long]("n_dec") <= r.getAs[Long]("n_trials"))
      }
      assert(r.getAs[Long]("rate_ppm") ==
        r.getAs[Long]("n_conv") * 1000000L / r.getAs[Long]("n_trials"))
    }
    // independent replay of the null stream's first batch: regenerate
    // the same 250 Bernoulli trials from the shared fingerprint and
    // fold the LLR — must equal the frame's crossing value exactly
    val nul = rows("null")
    if (nul.getAs[Long]("batch_dec") == 0L) {
      val k = (1L to 250L).count { i =>
        val t = (i % 1000003L) * (i % 1000003L)
        java.lang.Math.floorMod(
          graft.functions.Fingerprint.hashString(s"sn:$i:$t"), 1000000L) <
          300000L
      }.toLong
      val llr = k * PipelineOps.SprtIncPos +
        (250L - k) * PipelineOps.SprtIncNeg
      assert(nul.getAs[Long]("llr_dec") == llr,
        s"driver replay $llr vs frame ${nul.getAs[Long]("llr_dec")}")
    }
    // the planted streams are SF-invariant: always 2000 trials
    assert(rows("null").getAs[Long]("n_trials") == 2000L)
    assert(rows("effect").getAs[Long]("n_trials") == 2000L)
  }

  // ------------------------------------------------------------- X339

  test("q362: A/A scope stays quiet, rotated plant alerts, PSI accounting") {
    val rows = PipelineOps.q362PsiDrift(spark, sf).collect()
    assert(rows.length == 20, "2 scopes x 10 bands")
    val nul = rows.filter(_.getAs[String]("scope") == "null")
    val plant = rows.filter(_.getAs[String]("scope") == "plant")
    // the calibration half: even vs odd docs are the same distribution,
    // so the monitor must NOT alert (the half-bit log variant failed
    // exactly this check — see the scaladoc)
    assert(nul.forall(_.getAs[Long]("verdict") == 0L),
      s"A/A must stay quiet: psi=${nul.head.getAs[Long]("psi")}")
    // a two-band rotation is a hard shift: red alert
    assert(plant.forall(_.getAs[Long]("verdict") == 2L))
    assert(plant.head.getAs[Long]("psi") > nul.head.getAs[Long]("psi") * 10L)
    rows.groupBy(_.getAs[String]("scope")).values.foreach { g =>
      // psi is the sum of its own band contributions
      assert(g.map(_.getAs[Long]("contrib")).sum ==
        g.head.getAs[Long]("psi"))
      // every contribution is non-negative: (p-q) and the signed log
      // always share sign
      g.foreach(r => assert(r.getAs[Long]("contrib") >= 0L, s"$r"))
      // shares are ppm with the 1-ppm floor
      g.foreach { r =>
        assert(r.getAs[Long]("p_ppm") >= 1L && r.getAs[Long]("p_ppm") <= 1000000L)
        assert(r.getAs[Long]("q_ppm") >= 1L && r.getAs[Long]("q_ppm") <= 1000000L)
      }
    }
    // quarter-bit log replay on a known ratio: floor(4*log2(224/132)) = 3
    val b5 = nul.find(_.getAs[Long]("band") == 5L).get
    if (b5.getAs[Long]("p_ppm") > b5.getAs[Long]("q_ppm")) {
      val p = b5.getAs[Long]("p_ppm"); val q = b5.getAs[Long]("q_ppm")
      val l = (BigInt(p).pow(4) / BigInt(q).pow(4)).bitLength - 1
      assert(b5.getAs[Long]("contrib") == (p - q) * l)
    }
  }

  // ------------------------------------------------------------- X338

  test("q361: class-pure marker buckets rank top; contingency and formula replay") {
    val rows = PipelineOps.q361ChiFeatures(spark, sf).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.length == 8)
    val chis = rows.map(_.getAs[Long]("chi2_milli"))
    chis.sliding(2).foreach(p => assert(p(0) >= p(1), "chi2 ordered"))
    // equal chi2 -> smaller bucket first
    rows.sliding(2).foreach { case Array(x, y) =>
      if (x.getAs[Long]("chi2_milli") == y.getAs[Long]("chi2_milli"))
        assert(x.getAs[Long]("bucket") < y.getAs[Long]("bucket"))
    }
    val n1 = PipelineOps.QualityPlant.count(_._2 == 1L).toLong
    val n0 = PipelineOps.QualityPlant.size.toLong - n1
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("a_pos_with"), r.getAs[Long]("b_pos_without"))
      val (c, d) = (r.getAs[Long]("c_neg_with"), r.getAs[Long]("d_neg_without"))
      assert(a + b == n1 && c + d == n0, s"contingency margins: $r")
      // formula replay from the reported cells
      val denom = (a + c) * (b + d) * n1 * n0
      val num = a * d - b * c
      val expect = if (denom == 0L) 0L
        else (n1 + n0) * num * num * 1000L / denom
      assert(r.getAs[Long]("chi2_milli") == expect, s"chi2 replay: $r")
      assert(r.getAs[Long]("corpus_hit_ppm") >= 0L &&
        r.getAs[Long]("corpus_hit_ppm") <= 1000000L)
    }
    // the class-marker bigrams hash to buckets that separate the plant
    // almost perfectly: the top rows must be one-sided (a = 0 or c = 0)
    val top = rows.take(2)
    assert(top.forall(r => r.getAs[Long]("a_pos_with") == 0L ||
      r.getAs[Long]("c_neg_with") == 0L),
      "top chi2 buckets must be class-pure marker buckets")
    assert(top.map(_.getAs[Long]("chi2_milli")).distinct.length == 1,
      "the two pure marker buckets tie at the maximum")
  }

  // ------------------------------------------------------------- X336

  test("q359: minimal movement is structural; weight mix passes the balance audit") {
    val rows = PipelineOps.q359RendezvousShards(spark, sf).collect()
    val n8 = rows.filter(_.getAs[String]("scope") == "n8")
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("n_keys")).toMap
    val n9 = rows.filter(_.getAs[String]("scope") == "n9")
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("n_keys")).toMap
    val moved = rows.filter(_.getAs[String]("scope") == "move")
      .head.getAs[Long]("n_keys")
    // the HRW theorem, from the frame itself: adding shard 8 only
    // moves keys TO shard 8 — every old shard loses, never gains, and
    // the losses sum to the move count
    assert(moved == n9.getOrElse(8L, 0L), "moved keys == new shard's keys")
    (0L to 7L).foreach { sh =>
      assert(n8.getOrElse(sh, 0L) >= n9.getOrElse(sh, 0L),
        s"old shard $sh must never gain keys")
    }
    assert((0L to 7L).map(sh => n8.getOrElse(sh, 0L) - n9.getOrElse(sh, 0L))
      .sum == moved)
    assert(n8.values.sum == n9.values.sum)
    // balance audit over 50k sequential keys — the q332 discipline: the
    // two-tail weight mix was measured against rejected alternatives
    // (one squared tail: chi2 = 49.7; double-fingerprint: 1838); this
    // pins the shipped mix's quality for good
    def assign(i: Long, n: Int): Int = {
      val ws = (0 until n).map { sh =>
        val t1 = (i + sh * 131L) % 1000003L
        val t2 = (i * 7L + sh) % 999983L
        graft.functions.Fingerprint.hashString(
          s"rv:$i:$sh:${t1 * t1}:${t2 * t2}")
      }
      ws.indexOf(ws.max)
    }
    val counts = new Array[Long](8)
    (1L to 50000L).foreach(i => counts(assign(i, 8)) += 1L)
    val exp = 50000.0 / 8
    val chi2 = counts.map(c => (c - exp) * (c - exp) / exp).sum
    assert(chi2 < 20.0, s"weight mix imbalance: chi2=$chi2 over ${counts.toSeq}")
  }

  // ------------------------------------------------------------- X334

  test("q367: ensemble F1 >= every single signal; AUC strictly improves") {
    val rows = PipelineOps.q367EnsembleFilter(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("1_heur", "2_nb", "3_lm", "4_ensemble"))
    // the VERDICT criterion, asserted: the stacked scorer never loses to
    // a single signal at its own best operating point
    val ensF1 = rows("4_ensemble").getAs[Long]("f1_ppm")
    Seq("1_heur", "2_nb", "3_lm").foreach { s =>
      assert(ensF1 >= rows(s).getAs[Long]("f1_ppm"), s"ensemble lost to $s")
    }
    // plant is a fixed literal => every ablation number is SF-invariant;
    // pin the exact values (independently derived: the NB lane's known
    // 952380 max-F1, chance AUC for both weak signals on the equally
    // repetitive classes, and the fusion AUC lift 920634 -> 958049)
    def pin(s: String, auc: Long, thr: Long, f1: Long): Unit = {
      assert(rows(s).getAs[Long]("auc_ppm") == auc, s"$s auc")
      assert(rows(s).getAs[Long]("best_thr") == thr, s"$s thr")
      assert(rows(s).getAs[Long]("f1_ppm") == f1, s"$s f1")
    }
    pin("1_heur", 500000L, 83L, 666666L)
    pin("2_nb", 920634L, 226L, 952380L)
    pin("3_lm", 500000L, 971901L, 666666L)
    pin("4_ensemble", 958049L, 1944444L, 952380L)
    // tp/fp/fn arithmetic is internally consistent at each operating point
    rows.values.foreach { r =>
      val (tp, fp, fn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
        r.getAs[Long]("fn"))
      assert(r.getAs[Long]("f1_ppm") == 2 * tp * 1000000L / (2 * tp + fp + fn))
      assert(tp + fn == 21L) // 20 planted positives + the mislabeled junk
      assert(r.getAs[Long]("n_corpus_keep") >= 0L)
    }
  }

  test("q373: in-domain cut — full driver replay, nonzero keep, matrix identities") {
    import spark.implicits._
    val rows = PipelineOps.q373IndomainCut(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet ==
      Set("1_heur", "2_nb", "3_lm", "4_ensemble"))
    // (a) full independent driver replay: signals from the driver-side
    // scorer functions (NOT the SQL expressions), exact deciles by
    // sorting, leave-one-out labels, PAV, rate sums, sweeps, matrices
    val weights = PipelineOps.q334Weights
    val lmDict = PipelineOps.q367LmDict
    val docsRows = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .as[(Long, String)].collect()
    val scored = docsRows.map { case (id, t) =>
      (id, PipelineOps.q367HeurScore(t),
        PipelineOps.qualityGrams(t, 256).map(weights).sum,
        PipelineOps.q367LmScore(t, lmDict))
    }
    val nDocs = scored.length.toLong
    def deciles(f: ((Long, Long, Long, Long)) => Long): Map[Long, Long] =
      scored.sortBy(r => (f(r), r._1)).zipWithIndex.map { case (r, i) =>
        r._1 -> i.toLong * 10L / nDocs
      }.toMap
    val dh = deciles(_._2); val dn = deciles(_._3); val dl = deciles(_._4)
    val dd = scored.map(r => (r._1, dh(r._1), dn(r._1), dl(r._1)))
    def loo(a: Long, b: Long): Option[Long] =
      if (a >= 5 && b >= 5) Some(1L) else if (a < 5 && b < 5) Some(0L)
      else None
    def binsOf(sel: ((Long, Long, Long, Long)) => (Long, Option[Long]))
        : Seq[(Long, Long, Long)] =
      dd.flatMap { r => val (d, y) = sel(r); y.map(v => (d, v)) }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (d, g) => (d, g.size.toLong, g.count(_._2 == 1L).toLong) }
    val binH = binsOf(r => (r._2, loo(r._3, r._4)))
    val binN = binsOf(r => (r._3, loo(r._2, r._4)))
    val binL = binsOf(r => (r._4, loo(r._2, r._3)))
    def rate10(b: Seq[(Long, Long, Long)]): IndexedSeq[Long] = {
      val fits = PipelineOps.pavFits(b); val decs = b.map(_._1)
      (0L to 9L).map(d => fits(math.max(decs.lastIndexWhere(_ <= d), 0)))
    }
    val (rH, rN, rL) = (rate10(binH), rate10(binN), rate10(binL))
    val ens = dd.map(r => (r._1, rH(r._2.toInt) + rN(r._3.toInt) + rL(r._4.toInt),
      r._2, r._3, r._4))
    val uni = dd.flatMap { r =>
      if (r._2 >= 5 && r._3 >= 5 && r._4 >= 5) Some(r._1 -> 1L)
      else if (r._2 < 5 && r._3 < 5 && r._4 < 5) Some(r._1 -> 0L) else None
    }.toMap
    val ensBins = ens.filter(e => uni.contains(e._1))
      .groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (sc, g) =>
        (sc, g.size.toLong, g.count(e => uni(e._1) == 1L).toLong) }
    val pts = Seq(
      "1_heur" -> (PipelineOps.histSweep(binH), PipelineOps.histAuc(binH)),
      "2_nb" -> (PipelineOps.histSweep(binN), PipelineOps.histAuc(binN)),
      "3_lm" -> (PipelineOps.histSweep(binL), PipelineOps.histAuc(binL)),
      "4_ensemble" ->
        (PipelineOps.histSweep(ensBins), PipelineOps.histAuc(ensBins)))
    val thrE = pts.last._2._1._1
    pts.foreach { case (tag, ((t, tp, fp, fn, f1), auc)) =>
      val r = rows(tag)
      assert(r.getAs[Long]("best_thr") == t, tag)
      assert(r.getAs[Long]("tp") == tp && r.getAs[Long]("fp") == fp &&
        r.getAs[Long]("fn") == fn, tag)
      assert(r.getAs[Long]("f1_ppm") == f1 && r.getAs[Long]("auc_ppm") == auc,
        tag)
      // keep counts and matrices replayed from the per-doc frames
      val thrG = t
      val keep: Long => Boolean = tag match {
        case "1_heur" => id => dh(id) >= thrG
        case "2_nb" => id => dn(id) >= thrG
        case "3_lm" => id => dl(id) >= thrG
        case _ => id => ens.find(_._1 == id).get._2 >= thrE
      }
      assert(r.getAs[Long]("n_corpus_keep") ==
        dd.count(x => keep(x._1)).toLong, tag)
      if (tag != "4_ensemble") {
        val ke: Long => Boolean = id => ens.find(_._1 == id).get._2 >= thrE
        assert(r.getAs[Long]("agree_keep") ==
          dd.count(x => ke(x._1) && keep(x._1)).toLong, tag)
        assert(r.getAs[Long]("mixed_keep") ==
          dd.count(x => ke(x._1) && !keep(x._1)).toLong, tag)
        assert(r.getAs[Long]("mixed_drop") ==
          dd.count(x => !ke(x._1) && keep(x._1)).toLong, tag)
        assert(r.getAs[Long]("agree_drop") ==
          dd.count(x => !ke(x._1) && !keep(x._1)).toLong, tag)
      }
    }
    // (b) the point of the operator: a NONZERO defensible in-domain keep
    val ensRow = rows("4_ensemble")
    assert(ensRow.getAs[Long]("n_corpus_keep") > 0L)
    assert(ensRow.getAs[Long]("n_pseudo_pos") > 0L &&
      ensRow.getAs[Long]("n_pseudo_neg") > 0L)
    // (c) matrix identities: cells partition the corpus; row/column sums
    // reconcile with the keep counts
    val nc = ensRow.getAs[Long]("n_pseudo_pos") +
      ensRow.getAs[Long]("n_pseudo_neg") + ensRow.getAs[Long]("n_ambiguous")
    Seq("1_heur", "2_nb", "3_lm").foreach { tag =>
      val r = rows(tag)
      val cells = Seq("agree_keep", "mixed_keep", "mixed_drop", "agree_drop")
        .map(r.getAs[Long])
      assert(cells.sum == nc, tag)
      assert(cells(0) + cells(1) == ensRow.getAs[Long]("n_corpus_keep"), tag)
      assert(cells(0) + cells(2) == r.getAs[Long]("n_corpus_keep"), tag)
    }
  }

  test("q381: Neyman allocation — theorem holds, budget conserved, full replay") {
    import spark.implicits._
    val rows = PipelineOps.q381NeymanAlloc(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val strata = rows.filter(_._1.startsWith("s_"))
    // budget conservation under both allocations
    assert(strata.values.map(_.getAs[Long]("n_prop")).sum ==
      PipelineOps.NeymanBudget)
    assert(strata.values.map(_.getAs[Long]("n_neyman")).sum ==
      PipelineOps.NeymanBudget)
    // the theorem, measured: Neyman never worse than proportional
    assert(rows("z2_var_neyman").getAs[Long]("v2") <=
      rows("z1_var_prop").getAs[Long]("v2"))
    // plant pins: the zero-variance stratum sits at the 1-unit floor,
    // the bimodal stratum takes MORE budget under Neyman
    assert(rows("s_plantlo").getAs[Long]("sigma") == 0L)
    assert(rows("s_plantlo").getAs[Long]("n_neyman") == 1L)
    assert(rows("s_planthi").getAs[Long]("v2") == 250000L &&
      rows("s_planthi").getAs[Long]("sigma") == 500L)
    assert(rows("s_planthi").getAs[Long]("n_neyman") >
      rows("s_planthi").getAs[Long]("n_prop"))
    // independent driver replay of moments, variance, sigma and BOTH
    // allocation rules (floor + largest remainder + zero funding)
    val ys = graft.sources.Tables.load(spark, sf, "documents")
      .select($"lang", length(coalesce($"text", lit(""))).cast("long"))
      .as[(String, Long)].collect() ++
      PipelineOps.NeymanPlant.map(p => (p._1, p._3))
    val mom = ys.groupBy(_._1).toSeq.sortBy(_._1).map { case (st, g) =>
      val n = g.length.toLong; val sy = g.map(_._2).sum
      val syy = g.map(x => x._2 * x._2).sum
      val v2 = (n * syy - sy * sy) / (n * n)
      (st, n, v2, math.sqrt(v2.toDouble).toLong)
    }
    def alloc(w: Seq[Long]): Seq[Long] = {
      val b = PipelineOps.NeymanBudget; val tot = w.sum
      val base0 = w.map(x => b * x / tot)
      val rem = w.map(x => b * x % tot)
      val short = (b - base0.sum).toInt
      val order = rem.zipWithIndex.zip(mom.map(_._1))
        .sortBy { case ((r, _), st) => (-r, st) }.map(_._1._2)
      val a = base0.toArray
      order.take(short).foreach(i => a(i) += 1L)
      val zeros = a.indices.filter(a(_) == 0L)
      if (zeros.nonEmpty) {
        val donor = a.indices.maxBy(k => (a(k), -k))
        a(donor) -= zeros.length.toLong; zeros.foreach(i => a(i) += 1L)
      }
      a.toSeq
    }
    val np = alloc(mom.map(_._2)); val ny = alloc(mom.map(m => m._2 * m._4))
    mom.zipWithIndex.foreach { case ((st, n, v2, sg), i) =>
      val r = rows(s"s_$st")
      assert(r.getAs[Long]("n_docs") == n && r.getAs[Long]("v2") == v2, st)
      assert(r.getAs[Long]("sigma") == sg, st)
      assert(r.getAs[Long]("n_prop") == np(i), st)
      assert(r.getAs[Long]("n_neyman") == ny(i), st)
    }
    def score(ns: Seq[Long]): Long =
      mom.zip(ns).map { case ((_, n, v2, _), nh) => n * n * v2 / nh }.sum
    assert(rows("z1_var_prop").getAs[Long]("v2") == score(np))
    assert(rows("z2_var_neyman").getAs[Long]("v2") == score(ny))
  }

  test("q379: BBSE — identity/shift recovery within flooring, corpus clamp, full replay") {
    import spark.implicits._
    val rows = PipelineOps.q379LabelShift(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // full driver replay: threshold from the shared sweep, confusion
    // rates, every scope's mu/truth/estimate including the corpus scan
    // re-scored through the driver-side NB (not the SQL expression)
    val weights = PipelineOps.q334Weights
    val plantNb = PipelineOps.QualityPlant.map { case (_, y, t) =>
      (PipelineOps.qualityGrams(t, 256).map(weights).sum, y)
    }
    val thr = PipelineOps.q367Sweep(plantNb)._1
    val preds = plantNb.map { case (sc, y) => (y, if (sc >= thr) 1L else 0L) }
    val pPos = preds.count(_._1 == 1L).toLong
    val pNeg = preds.count(_._1 == 0L).toLong
    val k1 = preds.count(p => p._1 == 1L && p._2 == 1L).toLong
    val k0 = preds.count(p => p._1 == 0L && p._2 == 1L).toLong
    val tpr = k1 * 1000000L / pPos; val fpr = k0 * 1000000L / pNeg
    rows.values.foreach { r =>
      assert(r.getAs[Long]("tpr_ppm") == tpr && r.getAs[Long]("fpr_ppm") == fpr)
    }
    def est(mu: Long): (Long, Long) = {
      val raw = Math.floorDiv((mu - fpr) * 1000000L, tpr - fpr)
      (math.max(0L, math.min(1000000L, raw)),
        if (raw >= 0L && raw <= 1000000L) 0L else 1L)
    }
    Seq(("1_plant_self", 1L, 1L), ("2_shift_pos", 3L, 1L),
        ("3_shift_neg", 1L, 3L)).foreach { case (tag, wp, wn) =>
      val nW = wp * pPos + wn * pNeg
      val mu = (wp * k1 + wn * k0) * 1000000L / nW
      val truth = wp * pPos * 1000000L / nW
      val (e, c) = est(mu)
      val r = rows(tag)
      assert(r.getAs[Long]("n_docs") == nW && r.getAs[Long]("mu_ppm") == mu, tag)
      assert(r.getAs[Long]("est_prior_ppm") == e &&
        r.getAs[Long]("clamped") == c, tag)
      assert(r.getAs[Long]("true_prior_ppm") == truth, tag)
      assert(r.getAs[Long]("err_ppm") == math.abs(e - truth), tag)
      // the estimator's whole point: known shifted priors recovered to
      // within integer ppm flooring (<= 2 ppm)
      assert(r.getAs[Long]("err_ppm") <= 2L, tag)
    }
    // corpus scan replayed through the driver scorer
    val corpusScores = graft.sources.Tables.load(spark, sf, "documents")
      .select(coalesce($"text", lit("")).as("t")).as[String].collect()
      .map(t => PipelineOps.qualityGrams(t, 256).map(weights).sum)
    val muC = corpusScores.count(_ >= thr).toLong * 1000000L /
      corpusScores.length
    val rc = rows("4_corpus")
    assert(rc.getAs[Long]("mu_ppm") == muC)
    assert(rc.getAs[Long]("n_docs") == corpusScores.length.toLong)
    // the honest negative: domain shift violates BBSE's assumption and
    // the raw estimate leaves [0, 1] — clamped with the flag SET (the
    // corpus mu sits below the plant fpr)
    assert(muC < fpr)
    assert(rc.getAs[Long]("clamped") == 1L &&
      rc.getAs[Long]("est_prior_ppm") == 0L)
    assert(rc.getAs[Long]("has_truth") == 0L)
  }

  test("q369: AMS sketch — driver replay, additivity, the rejected hash is >=50x worse") {
    import spark.implicits._
    val rows = PipelineOps.q369AmsF2(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    // exact truth leg reconciles with an independent driver recount
    val counts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"source").as[String].collect()
      .groupBy(identity).map(_._2.length.toLong)
    val f2 = counts.map(c => c * c).sum
    assert(rows(97L).getAs[Long]("estimate") == f2)
    assert(rows(97L).getAs[Long]("z_or_n") == counts.sum)
    // driver replay of every estimator's Z with the hardened sign hash
    def fp(s0: String): Long = graft.functions.Fingerprint.hashString(s0)
    def sign(rep: Int, key: String): Long = {
      val t = (fp(key) % 1000003L) * (fp(key) % 1000003L)
      if ((fp(s"ams:$rep:$key:$t") / 64L) % 2L == 0L) 1L else -1L
    }
    val byKey = graft.sources.Tables.load(spark, sf, "documents")
      .select($"source").as[String].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    (0 until PipelineOps.AmsReps).foreach { rep =>
      val z = byKey.map { case (k, c) => sign(rep, k) * c }.sum
      assert(rows(rep.toLong).getAs[Long]("z_or_n") == z, s"rep $rep")
      assert(rows(rep.toLong).getAs[Long]("estimate") == z * z)
    }
    // mergeability BY LINEARITY: Z over any split of the rows adds —
    // the sketch state merges with 32 integer additions per shard
    val (evenKeys, oddKeys) = byKey.toSeq.partition(_._1.hashCode % 2 == 0)
    (0 until 4).foreach { rep =>
      val zAll = rows(rep.toLong).getAs[Long]("z_or_n")
      val zE = evenKeys.map { case (k, c) => sign(rep, k) * c }.sum
      val zO = oddKeys.map { case (k, c) => sign(rep, k) * c }.sum
      assert(zE + zO == zAll)
    }
    // the unbiased mean sits at 18800 ppm on this fixture (SF-invariant:
    // the key SET is fixed, so relative error is scale-free); the
    // REJECTED unhardened hash (bit 6 of fp without the squared tail)
    // measured 7450000 ppm — re-derived here and pinned >= 50x worse,
    // so the hardening cannot silently regress
    assert(rows(98L).getAs[Long]("err_ppm") == 18800L)
    def signRaw(rep: Int, key: String): Long =
      if ((fp(s"ams:$rep:$key") / 64L) % 2L == 0L) 1L else -1L
    val rawEsts = (0 until PipelineOps.AmsReps).map { rep =>
      val z = byKey.map { case (k, c) => signRaw(rep, k) * c }.sum
      z * z
    }
    val rawErr = math.abs(rawEsts.sum / PipelineOps.AmsReps - f2) * 1000000L / f2
    assert(rawErr >= 50L * rows(98L).getAs[Long]("err_ppm"),
      s"unhardened hash err $rawErr — the trap evidence vanished")
    // median-of-means is the robust form; on well-behaved data it pays
    // variance for tail guarantees (reported honestly, never hidden)
    assert(rows(99L).getAs[Long]("err_ppm") >= rows(98L).getAs[Long]("err_ppm"))
  }

  test("q358: histogram AUC equals the brute-force pair count; Gini consistent") {
    val rows = PipelineOps.q358ExactAuc(spark, sf).collect()
      .map(r => r.getAs[String]("scope") -> r).toMap
    // independent replay: brute-force Mann-Whitney over all (pos, neg)
    // plant pairs — wins count 2, ties count 1, in doubled units
    val ps = PipelineOps.QualityPlant.map { case (_, y, t) =>
      (y, PipelineOps.qualityGrams(t, 256).map(PipelineOps.q334Weights).sum)
    }
    val pos = ps.filter(_._1 == 1L).map(_._2)
    val neg = ps.filter(_._1 == 0L).map(_._2)
    val u2 = (for (p <- pos; n <- neg) yield {
      if (p > n) 2L else if (p == n) 1L else 0L
    }).sum
    val plant = rows("plant")
    assert(plant.getAs[Long]("n_pos") == pos.length.toLong)
    assert(plant.getAs[Long]("n_neg") == neg.length.toLong)
    assert(plant.getAs[Long]("auc_ppm") ==
      BigInt(u2) * 1000000 / (2L * pos.length * neg.length),
      "histogram fold must equal the brute-force pair count")
    // the mislabeled extremes keep training AUC below perfect
    assert(plant.getAs[Long]("auc_ppm") > 850000L &&
      plant.getAs[Long]("auc_ppm") < 1000000L)
    rows.values.foreach { r =>
      val auc = r.getAs[Long]("auc_ppm")
      val gini = r.getAs[Long]("gini_ppm")
      assert(auc >= 0L && auc <= 1000000L)
      // gini and auc floor independently from the same exact ratio
      assert(math.abs(2L * auc - (gini + 1000000L)) <= 1L, s"$r")
    }
    // corpus scope counts every document exactly once
    val c = rows("corpus")
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(c.getAs[Long]("n_pos") + c.getAs[Long]("n_neg") == nDocs)
  }

  // ------------------------------------------------------------- X333

  test("q357: plant estimates exactly, salted spread sits in the k=64 band") {
    val rows = PipelineOps.q357PrioritySample(spark, sf).collect()
    assert(rows.length == 10, "8 salts + mean + plant")
    val plant = rows.filter(_.getAs[String]("scope") == "plant").head
    // n < k: tau = 0, the sample IS the population — exact by the
    // published estimator definition
    assert(plant.getAs[Long]("est_cents") == plant.getAs[Long]("exact_cents"))
    assert(plant.getAs[Long]("err_ppm") == 0L && plant.getAs[Long]("n_kept") == 50L)
    val salted = rows.filter(r => r.getAs[String]("scope") == "corpus" &&
      r.getAs[Long]("salt") < 8L)
    assert(salted.length == 8)
    // theoretical sd ~ 1/sqrt(k-1) = 12.6%: individual samples stay
    // within a 4-sigma band, the 8-salt mean within ~1.5 sigma/sqrt(8)
    salted.foreach { r =>
      assert(math.abs(r.getAs[Long]("err_ppm")) < 500000L, s"outlier: $r")
      assert(r.getAs[Long]("n_kept") == PipelineOps.PrioK.toLong)
    }
    val mean = rows.filter(_.getAs[Long]("salt") == 99L).head
    assert(math.abs(mean.getAs[Long]("err_ppm")) < 150000L,
      s"mean of 8 must average down: $mean")
    // the mean row is exactly the floor-average of the salted estimates
    assert(mean.getAs[Long]("est_cents") ==
      salted.map(_.getAs[Long]("est_cents")).sum / 8L)
    // all rows agree on the exact total
    val exacts = rows.filter(_.getAs[String]("scope") == "corpus")
      .map(_.getAs[Long]("exact_cents")).distinct
    assert(exacts.length == 1)
  }

  // ------------------------------------------------------------- X332

  test("q356: decay curve is monotone, plant pins the half-value flip at k=13") {
    val rows = PipelineOps.q356EpochValue(spark, sf).collect()
    val xp = rows.filter(_.getAs[String]("lang") == "xp")
      .sortBy(_.getAs[Long]("k"))
    assert(xp.length == 16)
    // epoch 1 is all fresh data: eff == raw == U, value exactly 1e6
    assert(xp.head.getAs[Long]("eff_tokens") == 1000000L)
    assert(xp.head.getAs[Long]("value_ppm") == 1000000L)
    // the published R* = 15.39 fit halves the marginal at k = 13
    xp.foreach { r =>
      val expected = if (r.getAs[Long]("k") < 13L) 1L else 0L
      assert(r.getAs[Long]("worth_it") == expected, s"flip must be at 13: $r")
    }
    // structure on every language: eff monotone increasing, marginal
    // non-increasing (the decay is convex), value_ppm non-increasing,
    // eff bounded by the U·(1 + R*) saturation ceiling
    rows.groupBy(_.getAs[String]("lang")).values.foreach { g =>
      val byK = g.sortBy(_.getAs[Long]("k"))
      val u = byK.head.getAs[Long]("u_tokens")
      byK.sliding(2).foreach { case Array(a, b) =>
        assert(a.getAs[Long]("eff_tokens") < b.getAs[Long]("eff_tokens"))
        assert(a.getAs[Long]("marginal_tokens") >= b.getAs[Long]("marginal_tokens"))
        assert(a.getAs[Long]("value_ppm") >= b.getAs[Long]("value_ppm"))
      }
      byK.foreach { r =>
        assert(r.getAs[Long]("eff_tokens") <= u + u * 15390L / 1000L + 1L)
        assert(r.getAs[Long]("raw_tokens") == r.getAs[Long]("k") * u)
      }
    }
  }

  // ------------------------------------------------------------- X331

  test("q355: relative-error certificate holds on every row; plant is exact") {
    val rows = PipelineOps.q355RelQuantiles(spark, sf).collect()
    assert(rows.length == 8, "2 scopes x 4 quantiles")
    rows.foreach { r =>
      val est = r.getAs[Long]("est")
      val exact = r.getAs[Long]("exact")
      // structural certificate: the rank-r value lies inside the
      // answering bucket, so est <= exact and err <= the bucket bound
      assert(est <= exact, s"lower-edge estimate must not exceed exact: $r")
      assert(r.getAs[Long]("err_ppm") <= r.getAs[Long]("bound_ppm"), s"$r")
      // 1/16 geometric growth above lo = 16
      if (est >= 16L) assert(r.getAs[Long]("bound_ppm") <= 62500L)
      assert(r.getAs[Long]("rank_k") >= 1L &&
        r.getAs[Long]("rank_k") <= r.getAs[Long]("n"))
    }
    // the plant values ARE the bucket lower edges: every estimate must
    // be exact (an off-by-one in either edge convention breaks this)
    rows.filter(_.getAs[String]("scope") == "plant").foreach { r =>
      assert(r.getAs[Long]("err_ppm") == 0L, s"plant must be exact: $r")
      assert(r.getAs[Long]("n") == PipelineOps.DdBounds.length.toLong)
    }
    // static sketch structure: the bucket table is contiguous and the
    // recurrence's widths are exactly max(1, lo div 16)
    PipelineOps.DdBounds.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 == b._2, "buckets must tile contiguously")
    }
    PipelineOps.DdBounds.foreach { case (_, lo, hi) =>
      assert(hi - lo == math.max(1L, lo / 16L))
    }
  }

  // ------------------------------------------------------------- X319

  test("q344: weights are mean-1, interval rows are the order statistics") {
    val rows = PipelineOps.q344BootstrapCi(spark, sf).collect()
      .map(r => r.getAs[Long]("rep") -> r).toMap
    val reps = graft.ops.PipelineOps.BootReps
    assert(rows.keySet == ((0L until reps.toLong).toSet ++ Set(97L, 98L, 99L)))
    val n = rows(97L).getAs[Long]("w_count")
    // mean-1 binomial(4, 1/4) weights: every replicate's effective count
    // sits near n (a biased hash bit shows up exactly here — the q342
    // lesson; the pre-fix low-bit extraction measured 0.68n)
    (0L until reps.toLong).foreach { i =>
      val wc = rows(i).getAs[Long]("w_count")
      assert(math.abs(wc - n) * 10L < n, s"replicate $i count $wc vs $n")
    }
    // every row's mean is the exact BigInt div of its own sums
    rows.values.foreach { r =>
      val m = (BigInt(r.getAs[Long]("w_sum_cents")) * 1000000 /
        BigInt(r.getAs[Long]("w_count"))).toLong
      assert(r.getAs[Long]("mean_microcents") == m)
    }
    // interval rows 98/99 are the 2nd / (R-1)th order statistics of the
    // replicate means (tie-break rep asc), and the point estimate is
    // inside the interval on this corpus
    val means = (0L until reps.toLong)
      .map(i => (rows(i).getAs[Long]("mean_microcents"), i)).sorted
    assert(rows(98L).getAs[Long]("mean_microcents") == means(1)._1)
    assert(rows(99L).getAs[Long]("mean_microcents") == means(reps - 2)._1)
    val pt = rows(97L).getAs[Long]("mean_microcents")
    assert(pt >= rows(98L).getAs[Long]("mean_microcents"))
    assert(pt <= rows(99L).getAs[Long]("mean_microcents"))
  }

  // ------------------------------------------------------------- X321

  test("q346: CUPED recovers the planted effect, corpus leg is honestly null") {
    val rows = PipelineOps.q346CupedVariance(spark, sf).collect()
      .map(r => (r.getAs[String]("scope"), r.getAs[String]("arm")) -> r).toMap
    assert(rows.keySet ==
      Set(("corpus", "a"), ("corpus", "b"), ("plant", "a"), ("plant", "b")))
    // pooled stats repeat identically on both arm rows of a scope
    Seq("corpus", "plant").foreach { sc =>
      assert(rows((sc, "a")).getAs[Long]("theta_ppm") ==
        rows((sc, "b")).getAs[Long]("theta_ppm"))
      assert(rows((sc, "a")).getAs[Long]("varred_ppm") ==
        rows((sc, "b")).getAs[Long]("varred_ppm"))
    }
    // the synthetic order stream has no per-customer persistence:
    // CUPED buys ~nothing and must SAY so (the A/A-style calibration).
    // theta itself is a noisy null (−4388 ppm at sf0.01, 123443 at
    // sf0.001's 150 customers) — the calibrated readout is varred
    assert(math.abs(rows(("corpus", "a")).getAs[Long]("theta_ppm")) < 300000L)
    assert(rows(("corpus", "a")).getAs[Long]("varred_ppm") < 50000L)
    // the plant's y = 2x + bounded noise + effect: theta pins ~2.0 and
    // the covariate explains most of the pooled variance
    val pth = rows(("plant", "a")).getAs[Long]("theta_ppm")
    assert(pth > 1950000L && pth < 2050000L, s"theta $pth")
    assert(rows(("plant", "a")).getAs[Long]("varred_ppm") > 500000L)
    // the point of CUPED: the ADJUSTED delta recovers the planted
    // 50,000-dollar effect far better than the raw delta (which wears
    // the full 2x covariate imbalance between arms)
    val effect = 5000000L * 1000000L / 100L * 100L // 5e6 cents in microcents
    def delta(col: String) = rows(("plant", "b")).getAs[Long](col) -
      rows(("plant", "a")).getAs[Long](col)
    val rawErr = math.abs(delta("mean_y_microcents") - effect)
    val adjErr = math.abs(delta("adj_mean_y_microcents") - effect)
    assert(adjErr < rawErr, s"adj $adjErr !< raw $rawErr")
    assert(adjErr <= 2000000000L, s"adj error $adjErr microcents")
  }

  test("q386: randomized response — mechanism and debias replay; totals conserve") {
    import spark.implicits._
    val rows = PipelineOps.q386RandomizedResponse(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // full driver replay of the coin, flip target, histograms and the
    // clamped debias division
    val all = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"lang").as[(Long, String)].collect()
    val ls = all.map(_._2).distinct.sorted
    val k = ls.length.toLong
    val rep = all.map { case (id, lg) =>
      val sq = ((id % 1000003L) + 1000003L) % 1000003L
      val f = graft.functions.Fingerprint.hashString(s"rr:$id:${sq * sq}")
      if (f % 1000000L < PipelineOps.RrKeepPpm) lg
      else {
        val own = ls.indexOf(lg).toLong
        ls((((own + 1L + (f / 1000000L) % (k - 1L)) % k)).toInt)
      }
    }
    val n = all.length.toLong
    val qPpm = 250000L / (k - 1L)
    val obs = rep.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val tru = all.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    ls.foreach { lg =>
      val r = rows(s"lang:$lg")
      val o = obs.getOrElse(lg, 0L)
      assert(r.getAs[Long]("n_true") == tru(lg), lg)
      assert(r.getAs[Long]("n_obs") == o, lg)
      val num = o * 1000000L - n * qPpm
      val est = if (num <= 0L) 0L
        else num / (PipelineOps.RrKeepPpm - qPpm)
      assert(r.getAs[Long]("n_est") == est, lg)
      assert(r.getAs[Long]("err_abs") == math.abs(est - tru(lg)), lg)
    }
    // randomization permutes reports but conserves the response count
    val z = rows("z_total")
    assert(z.getAs[Long]("n_true") == n && z.getAs[Long]("n_obs") == n)
    // the debiased total tracks n (unbiasedness up to the clamp and
    // per-value flooring: each value floors away < 1 count)
    assert(math.abs(z.getAs[Long]("n_est") - n) <= k)
  }

  test("q388: sign-flip test — exact enumerations, MC replicates and p-values replay") {
    import spark.implicits._
    val rows = PipelineOps.q388SignFlipTest(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // exact legs: re-enumerate all 4096 masks
    def exact(ds: Seq[Long]): (Long, Long) = {
      val t0 = ds.sum
      val e = (0 until 4096).count { m =>
        math.abs(ds.zipWithIndex.map { case (d, i) =>
          if (((m >> i) & 1) == 1) -d else d
        }.sum) >= math.abs(t0)
      }.toLong
      (t0, e)
    }
    val (t1, e1) = exact(PipelineOps.SfPlantShifted)
    val r1 = rows("1_plant_exact")
    assert(r1.getAs[Long]("t_obs") == t1 && r1.getAs[Long]("n_extreme") == e1)
    assert(r1.getAs[Long]("p_ppm") == e1 * 1000000L / 4096L)
    // the sign-symmetric null is the calibration fixed point: T_obs = 0,
    // every mask is at least as extreme, p = 1e6 exactly
    val r2 = rows("2_plant_null_exact")
    assert(r2.getAs[Long]("t_obs") == 0L)
    assert(r2.getAs[Long]("n_extreme") == 4096L)
    assert(r2.getAs[Long]("p_ppm") == 1000000L)
    // MC legs: replay the pairs and the SHARED amsSign definition
    val byYear = graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_custkey".cast("long"), year($"o_orderdate"),
        graft.functions.Exact.cents($"o_totalprice"))
      .as[(Long, Int, Long)].collect()
      .filter(t => t._2 == 1995 || t._2 == 1996)
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sum).toMap
    val pairs = byYear.keys.map(_._1).toSeq.distinct.sorted.flatMap { c =>
      for (a <- byYear.get((c, 1995)); b <- byYear.get((c, 1996)))
        yield (c, b - a)
    }
    val r3 = rows("3_corpus_mc"); val r4 = rows("4_corpus_shifted_mc")
    assert(r3.getAs[Long]("n_pairs") == pairs.length.toLong)
    val obs = pairs.map(_._2).sum
    assert(r3.getAs[Long]("t_obs") == obs)
    val shift = PipelineOps.SfShiftCents
    assert(r4.getAs[Long]("t_obs") == obs + pairs.length * shift)
    val reps = PipelineOps.SfReps
    val ts = (0 until reps).map { r =>
      pairs.map { case (c, d) =>
        PipelineOps.amsSign("sfp", r, c.toString) * d
      }.sum
    }
    val tsh = (0 until reps).map { r =>
      pairs.map { case (c, d) =>
        PipelineOps.amsSign("sfp", r, c.toString) * (d + shift)
      }.sum
    }
    val e3 = ts.count(t => math.abs(t) >= math.abs(obs)).toLong
    val e4 = tsh.count(t =>
      math.abs(t) >= math.abs(obs + pairs.length * shift)).toLong
    assert(r3.getAs[Long]("n_extreme") == e3)
    assert(r3.getAs[Long]("p_ppm") == (e3 + 1L) * 1000000L / (reps + 1L))
    assert(r4.getAs[Long]("n_extreme") == e4)
    assert(r4.getAs[Long]("p_ppm") == (e4 + 1L) * 1000000L / (reps + 1L))
  }

  test("q392: conformal — splits, median slope, quantiles and coverage replay; width explodes, coverage holds") {
    import spark.implicits._
    val rows = PipelineOps.q392ConformalIntervals(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val all = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) =>
        val txt = Option(t).getOrElse("")
        (id, txt.split(" ", -1).length.toLong, txt.length.toLong)
      }.filter(_._2 >= 1L)
      .map { case (id, x, y) =>
        val sq = ((id % 1000003L) + 1000003L) % 1000003L
        (id, x, y,
          graft.functions.Fingerprint.hashString(s"cp:$id:${sq * sq}") % 4L)
      }
    val train = all.filter(_._4 <= 1L)
      .map(d => (d._3 * 1000L / d._2, d._1)).sortBy(identity)
    val slope = train((train.length + 1) / 2 - 1)._1
    assert(rows("0_model").getAs[Long]("slope_milli") == slope)
    assert(rows("0_model").getAs[Long]("n") == train.length.toLong)
    def sc(x: Long, y: Long): Long = math.abs(y - x * slope / 1000L)
    def qhat(scores: Seq[(Long, Long)]): Long = {
      val srt = scores.sortBy(identity)
      val k = (9L * (srt.length + 1L) + 9L) / 10L
      srt(k.toInt - 1)._1
    }
    val cal = all.filter(_._4 == 2L).map(d => (sc(d._2, d._3), d._1))
    val plant = (0 until PipelineOps.ConfPlantN).map(i =>
      (sc(10L, 1000000L), -i - 1L))
    val (qC, qP) = (qhat(cal), qhat(plant ++ cal))
    assert(rows("1_clean_cal").getAs[Long]("qhat") == qC)
    assert(rows("3_polluted_cal").getAs[Long]("qhat") == qP)
    val test = all.filter(_._4 == 3L).map(d => sc(d._2, d._3))
    def cov(q: Long) = test.count(_ <= q).toLong
    val t2 = rows("2_clean_test"); val t4 = rows("4_polluted_test")
    assert(t2.getAs[Long]("n") == test.length.toLong)
    assert(t2.getAs[Long]("covered") == cov(qC))
    assert(t2.getAs[Long]("coverage_ppm") == cov(qC) * 1000000L / test.length)
    assert(t4.getAs[Long]("covered") == cov(qP))
    // the conformal asymmetry: pollution can only widen the interval
    // (q monotone in added mass above the quantile), so polluted
    // coverage >= clean coverage, and the clean leg sits in the
    // guarantee's binomial band around 1-alpha
    assert(qP >= qC)
    assert(t4.getAs[Long]("coverage_ppm") >= t2.getAs[Long]("coverage_ppm"))
    assert(t2.getAs[Long]("coverage_ppm") >= 800000L)
  }

  test("q393: counting Bloom — no false negatives before or after delete; full replay") {
    import spark.implicits._
    val rows = PipelineOps.q393CountingBloom(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // THE theorem of the structure: membership never false-negative on
    // live keys, before and after deletion
    assert(rows("1_present_before").getAs[Long]("rate_ppm") == 1000000L)
    assert(rows("2_survivors_after").getAs[Long]("rate_ppm") == 1000000L)
    // full replay: positions, counters, delete subtraction, all probes
    val m = 16384L
    val keys = graft.sources.Tables.load(spark, sf, "customer")
      .select($"c_custkey".cast("long")).as[Long].collect()
      .filter(_ % 5L == 0L).distinct.sorted
    val del = keys.filter(_ % 7L == 3L).toSet
    def pos(key: Long): Seq[Long] = PipelineOps.cbfPositions(key, m)
    val cells = keys.flatMap(pos).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val after = del.toSeq.flatMap(pos).groupBy(identity).view
      .mapValues(_.length.toLong).toMap.foldLeft(cells) {
        case (c, (h, d)) => c.updated(h, c(h) - d)
      }
    def hit(key: Long, f: Map[Long, Long]): Boolean =
      pos(key).forall(h => f.getOrElse(h, 0L) > 0L)
    val surv = keys.filterNot(del)
    assert(rows("0_filter").getAs[Long]("n") == keys.length.toLong)
    assert(rows("0_filter").getAs[Long]("hits") == del.size.toLong)
    assert(rows("0_filter").getAs[Long]("aux") == cells.values.max)
    assert(rows("0_filter").getAs[Long]("rate_ppm") ==
      cells.values.count(_ >= 16L).toLong)
    assert(rows("2_survivors_after").getAs[Long]("n") == surv.length.toLong)
    assert(rows("2_survivors_after").getAs[Long]("hits") ==
      surv.count(hit(_, after)).toLong)
    assert(rows("3_deleted_after").getAs[Long]("hits") ==
      del.count(hit(_, after)).toLong)
    assert(rows("4_absent_after").getAs[Long]("hits") ==
      keys.map(_ + 10000000L).count(hit(_, after)).toLong)
    // survivors are all found in the replay too (cross-implementation)
    assert(surv.forall(hit(_, after)))
  }

  test("q397: replay estimator replays exactly; logging policy is the fixed point") {
    import spark.implicits._
    val rows = PipelineOps.q397ReplayEval(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // the estimator's fixed point: replaying the logging policy keeps
    // every round and recovers its true value exactly
    val lg = rows("3_logging")
    assert(lg.getAs[Long]("v_hat_ppm") == lg.getAs[Long]("v_true_ppm"))
    assert(lg.getAs[Long]("err_ppm") == 0L)
    // full driver replay of arms, potential outcomes and all estimates
    val custs = graft.sources.Tables.load(spark, sf, "customer")
      .select($"c_custkey".cast("long"),
        graft.functions.Exact.cents($"c_acctbal"))
      .as[(Long, Long)].collect()
    val mx = graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_custkey".cast("long"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    def msq(salt: String, k: Long): Long = {
      val f = graft.functions.Fingerprint.hashString(s"$salt:$k")
      (f * f / 65536L) % 2L
    }
    case class R(logged: Long, r1: Long, r0: Long, piBal: Long)
    val data = custs.map { case (k, bal) =>
      val nat = mx.getOrElse(k, 0L) >= 46500000L
      val boost = msq("boost", k) == 0L
      R(msq("exp1", k), if (nat || boost) 1L else 0L,
        if (nat) 1L else 0L, if (bal > 0L) 1L else 0L)
    }
    val n = data.length.toLong
    def check(tag: String, pi: R => Long): Unit = {
      val matched = data.filter(d => d.logged == pi(d))
      val w = matched.map(d => if (d.logged == 1L) d.r1 else d.r0).sum
      val t = data.map(d => if (pi(d) == 1L) d.r1 else d.r0).sum
      val r = rows(tag)
      assert(r.getAs[Long]("n_matched") == matched.length.toLong, tag)
      assert(r.getAs[Long]("v_hat_ppm") == w * 1000000L / matched.length, tag)
      assert(r.getAs[Long]("v_true_ppm") == t * 1000000L / n, tag)
      assert(r.getAs[Long]("err_ppm") == math.abs(
        w * 1000000L / matched.length - t * 1000000L / n), tag)
    }
    check("1_always_treat", _ => 1L)
    check("2_balance_rule", _.piBal)
    check("3_logging", _.logged)
    // under uniform logging a deterministic policy matches ~half the
    // rounds — the estimator's data-efficiency price, visible
    val m1 = rows("1_always_treat").getAs[Long]("n_matched")
    assert(m1 * 3L > n && m1 * 3L < 2L * n, s"matched $m1 of $n")
  }

  test("q398: IPS corrects the naive bias under biased logging; full replay") {
    import spark.implicits._
    val rows = PipelineOps.q398IpsEval(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // full driver replay of propensities, coins, rewards and all three
    // estimators
    val custs = graft.sources.Tables.load(spark, sf, "customer")
      .select($"c_custkey".cast("long")).as[Long].collect()
    val mx = graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_custkey".cast("long"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    def msq(salt: String, k: Long, m: Long): Long = {
      val f = graft.functions.Fingerprint.hashString(s"$salt:$k")
      (f * f / 65536L) % m
    }
    case class R(p: Long, r1: Long, treated: Boolean)
    val data = custs.map { k =>
      val nat = mx.getOrElse(k, 0L) >= 46500000L
      val p = if (nat) 750000L else 250000L
      R(p, if (nat || msq("boost", k, 2L) == 0L) 1L else 0L,
        msq("logb", k, 1000000L) < p)
    }
    val n = data.length.toLong
    val m = data.count(_.treated).toLong
    val t = data.map(_.r1).sum
    val vTrue = t * 1000000L / n
    val wn = data.filter(_.treated).map(_.r1).sum
    val wi = data.filter(_.treated)
      .map(d => d.r1 * (1000000000000L / d.p)).sum
    val den = data.filter(_.treated).map(d => 1000000000000L / d.p).sum
    def check(tag: String, used: Long, vHat: Long): Unit = {
      val r = rows(tag)
      assert(r.getAs[Long]("n_used") == used, tag)
      assert(r.getAs[Long]("v_hat_ppm") == vHat, tag)
      assert(r.getAs[Long]("v_true_ppm") == vTrue, tag)
      assert(r.getAs[Long]("err_ppm") == math.abs(vHat - vTrue), tag)
    }
    check("1_naive", m, wn * 1000000L / m)
    check("2_ips", n, wi / n)
    check("3_snips", m, wi * 1000000L / den)
    // the lesson, pinned: naive is biased UP (it over-samples natural
    // converters) and both propensity-corrected estimators beat it
    assert(rows("1_naive").getAs[Long]("v_hat_ppm") > vTrue)
    assert(rows("2_ips").getAs[Long]("err_ppm") <
      rows("1_naive").getAs[Long]("err_ppm"))
    assert(rows("3_snips").getAs[Long]("err_ppm") <
      rows("1_naive").getAs[Long]("err_ppm"))
  }

  test("q399: BH-FDR — pairs, p-values and the step-up scan replay; roll-ups reconcile") {
    import spark.implicits._
    val rows = PipelineOps.q399BhFdr(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val (m, reps) = (PipelineOps.FdrExperiments, PipelineOps.FdrReps)
    // full replay: symmetrized pairs, shared test signs, add-one p's,
    // cross-multiplied BH step-up
    val byYear = graft.sources.Tables.load(spark, sf, "orders")
      .select($"o_custkey".cast("long"), year($"o_orderdate"),
        graft.functions.Exact.cents($"o_totalprice"))
      .as[(Long, Int, Long)].collect()
      .filter(t => t._2 == 1995 || t._2 == 1996)
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sum).toMap
    val pairs = byYear.keys.map(_._1).toSeq.distinct.sorted.flatMap { c =>
      for (a <- byYear.get((c, 1995)); b <- byYear.get((c, 1996))) yield {
        val fs = graft.functions.Fingerprint.hashString(s"sym:$c")
        val s0 = if ((fs * fs / 65536L) % 2L == 0L) 1L else -1L
        val e = ((c % m) + m) % m
        (c, e, s0 * (b - a) +
          (if (e < PipelineOps.FdrEffects) PipelineOps.FdrShiftCents else 0L))
      }
    }
    val perExp = pairs.groupBy(_._2).toSeq.sortBy(_._1).map { case (e, ps) =>
      val t0 = ps.map(_._3).sum
      val ext = (0 until reps).count { r =>
        math.abs(ps.map { case (c, _, d) =>
          PipelineOps.amsSign("fdr", r, c.toString) * d
        }.sum) >= math.abs(t0)
      }.toLong
      (e, ps.length.toLong, t0, (ext + 1L) * 1000000L / (reps + 1L))
    }
    perExp.foreach { case (e, np, t0, p) =>
      val r = rows(f"e$e%02d")
      assert(r.getAs[Long]("n_pairs") == np, s"e$e")
      assert(r.getAs[Long]("t_obs") == t0, s"e$e")
      assert(r.getAs[Long]("p_ppm") == p, s"e$e")
      assert(r.getAs[Long]("has_effect") ==
        (if (e < PipelineOps.FdrEffects) 1L else 0L), s"e$e")
    }
    val sorted = perExp.sortBy(x => (x._4, x._1))
    val kStar = (1 to sorted.length).filter(k =>
      sorted(k - 1)._4 * m.toLong <= k.toLong * PipelineOps.FdrAlphaPpm)
      .lastOption.getOrElse(0)
    val bhSet = sorted.take(kStar).map(_._1).toSet
    perExp.foreach { case (e, _, _, p) =>
      val r = rows(f"e$e%02d")
      assert(r.getAs[Long]("naive_rej") ==
        (if (p <= PipelineOps.FdrAlphaPpm) 1L else 0L), s"e$e naive")
      assert(r.getAs[Long]("bh_rej") ==
        (if (bhSet.contains(e)) 1L else 0L), s"e$e bh")
    }
    // roll-ups reconcile and BH rejects a subset of naive (step-up with
    // alpha*k/m <= alpha means the BH line never exceeds alpha)
    val zN = rows("z_naive"); val zB = rows("z_bh")
    assert(zN.getAs[Long]("n_pairs") ==
      perExp.count(_._4 <= PipelineOps.FdrAlphaPpm).toLong)
    assert(zB.getAs[Long]("n_pairs") == kStar.toLong)
    assert(zB.getAs[Long]("naive_rej") == kStar.toLong)
    assert(zB.getAs[Long]("n_pairs") <= zN.getAs[Long]("n_pairs"))
    // (the full-power pin — all 8 effects BH-discovered — holds at
    // sf0.01 where each experiment owns ~23 pairs; at this fixture's
    // ~2 pairs per experiment the sign-flip p cannot resolve below
    // ~1/4, so power is a scale property, not asserted here)
  }

  test("q400: Mondrian — every leaf k-anonymous, leaves tile the population, full replay") {
    import spark.implicits._
    val rows = PipelineOps.q400Mondrian(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val leaves = rows.filter(_._1.startsWith("leaf:"))
    val n = rows("z0_none").getAs[Long]("x1")
    // THE k-anonymity theorem: every leaf holds >= k rows (given the
    // root does), and the leaves partition the population exactly
    assert(leaves.values.forall(
      _.getAs[Long]("n_or_disc") >= PipelineOps.MondrianK))
    assert(leaves.values.map(_.getAs[Long]("n_or_disc")).sum == n)
    assert(rows("z2_multi").getAs[Long]("x1") >= PipelineOps.MondrianK)
    // discernibility ordering: multidimensional <= single-attribute <=
    // unpartitioned (more admissible cuts can only help the greedy)
    val (d0, d1, d2) = (rows("z0_none").getAs[Long]("n_or_disc"),
      rows("z1_xonly").getAs[Long]("n_or_disc"),
      rows("z2_multi").getAs[Long]("n_or_disc"))
    assert(d2 <= d1 && d1 <= d0)
    // full replay through the shared split rule
    val cells = graft.sources.Tables.load(spark, sf, "customer")
      .selectExpr(
        s"CAST(round(c_acctbal * 100) AS BIGINT) div ${PipelineOps.MondrianCell}",
        "CAST(c_nationkey AS BIGINT)")
      .as[(Long, Long)].collect()
      .groupBy(identity).map { case ((x, y), g) => (x, y, g.length.toLong) }
      .toSeq
    def cut(forceAxis: Option[Int]) = {
      var boxes: Map[Int, Seq[(Long, Long, Long)]] = Map(1 -> cells)
      (1 to PipelineOps.MondrianRounds).foreach { _ =>
        boxes = boxes.toSeq.flatMap { case (b, cs) =>
          PipelineOps.mondrianSplit(cs, PipelineOps.MondrianK, forceAxis) match {
            case Some((l, r)) => Seq(2 * b -> l, 2 * b + 1 -> r)
            case None         => Seq(b -> cs)
          }
        }.toMap
      }
      boxes
    }
    val multi = cut(None)
    assert(leaves.size == multi.size)
    multi.foreach { case (b, cs) =>
      val r = rows(f"leaf:$b%03d")
      assert(r.getAs[Long]("x0") == cs.map(_._1).min, s"leaf $b")
      assert(r.getAs[Long]("x1") == cs.map(_._1).max, s"leaf $b")
      assert(r.getAs[Long]("y0") == cs.map(_._2).min, s"leaf $b")
      assert(r.getAs[Long]("y1") == cs.map(_._2).max, s"leaf $b")
      assert(r.getAs[Long]("n_or_disc") == cs.map(_._3).sum, s"leaf $b")
    }
    val xd = cut(Some(0))
    assert(rows("z1_xonly").getAs[Long]("x0") == xd.size.toLong)
    assert(rows("z1_xonly").getAs[Long]("n_or_disc") ==
      xd.values.map(cs => { val m = cs.map(_._3).sum; m * m }).sum)
  }

  test("amsSignsSql linear-fold form matches the full-concat driver replay") {
    // The SQL path now evaluates fp('salt:i:' ++ sfx) as
    // C_i*31^|sfx| + fp(sfx) (the Fingerprint.Pow31 identity); the
    // driver replay amsSign still hashes the whole concatenation, so
    // exact agreement here IS the identity check — including a key
    // long enough (>128-byte suffix) to force the pow-table's seeded
    // zero-byte fallback branch.
    import spark.implicits._
    graft.functions.Fingerprint.register(spark)
    val keys = Seq("src0", "src19", "c:12345", "-987654321",
      "k" * 130, "\u00e9\u4e16\u754c" * 40) // multi-byte UTF-8 past the table too
    val r = 32
    val got = keys.toDF("k")
      .select($"k", expr(PipelineOps.amsSignsSql("k", "ams", r)).as("s"))
      .collect().map(x => x.getString(0) -> x.getSeq[Long](1)).toMap
    keys.foreach { k =>
      val want = (0 until r).map(i => PipelineOps.amsSign("ams", i, k))
      assert(got(k) == want, s"key $k")
    }
  }
}
