package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.CorpusOps

/** Invariant checks for the corpus-level operators (SURVEY.md §2.7
  * X29-X33) beyond the driver's DuckDB hash gate: the salted rewrite must
  * be bit-identical to the direct plan, the HOF longest-run must agree
  * with the explode-based word count, and the cleaning pass must PARTITION
  * the corpus (reasons exclusive + exhaustive).
  */
class CorpusOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession("corpus-ops-spec", 4)

  override def afterAll(): Unit = spark.stop()

  test("salted aggregation is bit-identical to the direct groupBy") {
    import spark.implicits._
    val direct = graft.sources.Tables.load(spark, sf, "lineitem")
      .select($"l_returnflag",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
      .orderBy($"l_returnflag")
      .collect().toSeq
    val salted = CorpusOps.q72SaltedAgg(spark, sf).collect().toSeq
    assert(salted == direct)
  }

  test("HOF longest-run top word equals the explode-based word count") {
    import spark.implicits._
    val hof = CorpusOps.q70Repetition(spark, sf)
      .select($"doc_id", $"top_word", $"top_word_n")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val exploded = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"c".desc, $"w")))
      .filter($"rk" === 1)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(hof.nonEmpty)
    hof.foreach { case (id, got) => assert(got == exploded(id), s"doc $id") }
  }

  test("repetition metrics bound their fractions") {
    val rows = CorpusOps.q70Repetition(spark, sf).collect()
    rows.foreach { r =>
      val f = r.getAs[Double]("top_word_frac")
      assert(f > 0.0 && f <= 1.0)
      assert(r.getAs[Long]("dup_2gram_n") >= 0L)
      assert(r.getAs[Long]("top_word_n") <= r.getAs[Long]("n_words"))
    }
  }

  test("corpus-clean reasons partition the corpus exactly") {
    import spark.implicits._
    val perLang = CorpusOps.q74CorpusClean(spark, sf)
      .groupBy($"lang").agg(sum($"n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = graft.sources.Tables.load(spark, sf, "documents")
      .groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang == truth)
  }

  test("df-quality: every word's df >= 1 so sum_df >= n_distinct_words") {
    val rows = CorpusOps.q71DfQuality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nd = r.getAs[Long]("n_distinct_words")
      assert(r.getAs[Long]("sum_df") >= nd)
      assert(r.getAs[Long]("rare_words") <= nd)
    }
  }

  test("vocab top-20 is ordered by frequency with word tiebreak") {
    val rows = CorpusOps.q73VocabTopk(spark, sf).collect()
    assert(rows.length == 20)
    val pairs = rows.map(r => (r.getAs[Long]("n_occurrences"), r.getAs[String]("w")))
    val sorted = pairs.sortBy { case (n, w) => (-n, w) }
    assert(pairs.toSeq == sorted.toSeq)
  }

  test("tokenizer classes partition the token count") {
    val rows = graft.ops.TextOps.q75Tokenize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_alpha") + r.getAs[Long]("n_num") +
        r.getAs[Long]("n_punct") == r.getAs[Long]("n_tokens"))
      // every token is >= 1 BPE unit, 4-char units never exceed token count * some bound
      assert(r.getAs[Long]("bpe_units") >= r.getAs[Long]("n_tokens"))
    }
  }

  test("contamination excludes eval docs and bounds the ratio") {
    val rows = CorpusOps.q76Contamination(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 20 != 0)
      val n = r.getAs[Long]("n_grams"); val c = r.getAs[Long]("n_contaminated")
      assert(c >= 0 && c <= n)
      val pm = r.getAs[Long]("contam_permille")
      assert(pm >= 0 && pm <= 1000)
      assert(pm == c * 1000 / n)
    }
  }

  test("chunk dedup: exact-duplicate documents share every chunk") {
    import spark.implicits._
    val got = CorpusOps.q77ChunkDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_shared_chunks"))))
      .toMap
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", md5($"text").as("h"), size(split($"text", " ")).as("nw"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // chunk count is ceil(n_words / 10) for every doc
    d.foreach { case (id, _, nw) =>
      assert(got(id)._1 == (nw + 9) / 10, s"doc $id chunk count") }
    // docs whose full text duplicates another doc share all their chunks
    val dupHashes = d.groupBy(_._2).filter(_._2.size > 1).keySet
    d.filter(t => dupHashes(t._2)).foreach { case (id, _, _) =>
      assert(got(id)._2 == got(id)._1, s"doc $id should share all chunks") }
  }

  test("keep-best resolution picks the longest member of every q50 cluster") {
    import spark.implicits._
    val clusters = graft.ops.DedupOps.q50DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val lens = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", length($"text").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val best = clusters.groupBy(_._2).map { case (cid, ms) =>
      cid -> ms.map(_._1).minBy(id => (-lens(id), id)) }
    val got = CorpusOps.q79KeepBest(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val cid = r.getAs[Long]("canonical_id")
      assert(r.getAs[Long]("kept_doc_id") == best(cid), s"cluster $cid")
      assert(r.getAs[Long]("kept_chars") == lens(best(cid)))
      assert(r.getAs[Long]("n_discarded") == r.getAs[Long]("cluster_size") - 1)
    }
    assert(got.length == best.size)
  }

  test("sequence packing tiles each language stream without gaps") {
    import spark.implicits._
    val rows = CorpusOps.q80SequencePack(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("start_ctx") <= r.getAs[Long]("end_ctx"))
      assert(r.getAs[Long]("n_boundary_crossings") ==
        r.getAs[Long]("end_ctx") - r.getAs[Long]("start_ctx"))
    }
    // per lang: the last doc's end context is exactly ceil(total/2048) - 1,
    // and consecutive docs are contiguous (next start == prev end or prev end + 1)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      val total = sorted.map(_.getAs[Long]("n_tokens")).sum
      assert(sorted.last.getAs[Long]("end_ctx") == (total - 1) / 2048, lang)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val diff = b.getAs[Long]("start_ctx") - a.getAs[Long]("end_ctx")
          assert(diff == 0 || diff == 1, s"$lang gap")
        case _ =>
      }
    }
  }

  test("funnel stages are ordered and monotonically shrinking") {
    val rows = graft.ops.EventOps.q78Funnel(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val stage = r.getAs[Long]("stage")
      val v = Option(r.get(r.fieldIndex("view_us"))).map(_.asInstanceOf[Long])
      val c = Option(r.get(r.fieldIndex("click_us"))).map(_.asInstanceOf[Long])
      val p = Option(r.get(r.fieldIndex("purchase_us"))).map(_.asInstanceOf[Long])
      assert(stage == Seq(v, c, p).count(_.isDefined))
      // non-null pattern is a prefix: click implies view, purchase implies click
      assert(c.isEmpty || v.isDefined); assert(p.isEmpty || c.isDefined)
      for (vv <- v; cc <- c) assert(cc >= vv)
      for (cc <- c; pp <- p) assert(pp >= cc)
    }
    val byStage = (0 to 3).map(k => rows.count(_.getAs[Long]("stage") >= k))
    assert(byStage == byStage.sorted.reverse)
  }

  test("q226 BPE merges: prefix-stable, counts non-increasing, symbols compose") {
    val full = CorpusOps.q226BpeMerges(spark, sf).collect()
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count")))
    assert(full.length == 8)
    // greedy prefix stability: learning 4 merges yields exactly the
    // first 4 rows of the 8-merge run (BPE's defining property)
    val four = CorpusOps.q226BpeMerges(spark, sf, nMerges = 4).collect()
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count")))
    assert(four.toSeq == full.take(4).toSeq)
    // the winning count never increases round-over-round: a new pair
    // (x, lr) can appear at most once per consumed (l, r) occurrence
    assert(full.map(_._4).toSeq == full.map(_._4).toSeq.sorted.reverse)
    // every symbol is either a single char or the concatenation of two
    // previously-learned symbols (the merge table is self-consistent)
    val known = collection.mutable.Set[String]()
    ('a' to 'z').foreach(c => known += c.toString)
    full.foreach { case (_, l, r, c) =>
      assert(known(l) && known(r), s"merge uses unknown symbol: $l + $r")
      assert(c > 0L)
      known += (l + r)
    }
  }

  test("q255: Viterbi beats greedy on a provably suboptimal vocabulary") {
    import spark.implicits._
    // rigged type dictionary: pair counts force the merge order
    // (b,c) > (a,b) > (c,d), so the vocab is {bc, ab, cd} — and greedy
    // rank-order application on "abcd" consumes the b with bc, leaving
    // a|bc|d (3 tokens), while the optimal tiling is ab|cd (2)
    val dict = Seq(("bc", 10L), ("ab", 6L), ("cd", 5L), ("abcd", 3L))
    val merges = CorpusOps.learnMerges(dict, 3).map { case (_, l, r, _) => (l, r) }
    assert(merges == Seq(("b", "c"), ("a", "b"), ("c", "d")))
    val row = Seq("abcd", "ab", "bc", "cd", "abcdabcd", "x").toDF("w")
      .selectExpr("w",
        s"${CorpusOps.greedySubExpr(merges)} AS greedy",
        s"${CorpusOps.viterbiExpr(merges.map { case (l, r) => l + r })} AS vit")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(row("abcd") == (3L, 2L))          // greedy provably suboptimal
    assert(row("abcdabcd") == (6L, 4L))      // compounds per occurrence
    assert(row("ab") == (1L, 1L))
    assert(row("bc") == (1L, 1L))
    assert(row("cd") == (1L, 1L))
    assert(row("x") == (1L, 1L))             // base chars always feasible
    // on the real corpus the audit's invariant side: viterbi <= greedy,
    // excess accounted exactly
    val audit = CorpusOps.q255ViterbiAudit(spark, sf).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      val (g, v, ns, ex) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(v <= g)
      assert(ex == (g - v) * 1000000L / v)
      if (ns == 0) assert(g == v)
    }
  }

  test("q227 BPE fertility matches a driver merge-application replay") {
    val merges = CorpusOps.q226BpeMerges(spark, sf).collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
    def tokenize(w: String): Int = {
      var sl = w.split("").filter(_.nonEmpty)
      merges.foreach { case (l, r) =>
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < sl.length) {
          if (i < sl.length - 1 && sl(i) == l && sl(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += sl(i); i += 1 }
        }
        sl = out.result().toArray
      }
      sl.length
    }
    val byLang = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("lang"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ")
        .filter(_.matches("^[a-z]+$")).map(w => (r.getString(0), w)))
      .groupBy(_._1)
    val got = CorpusOps.q227BpeFertility(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_subtokens"))).toMap
    assert(got.keySet == byLang.keySet)
    byLang.foreach { case (lang, ws) =>
      val (nw, nc, ns) = got(lang)
      assert(nw == ws.length.toLong)
      assert(nc == ws.map(_._2.length.toLong).sum)
      assert(ns == ws.map(p => tokenize(p._2).toLong).sum,
        s"subtoken replay mismatch for $lang")
      // fertility sits between word- and char-tokenization by construction
      assert(nw <= ns && ns <= nc)
    }
    // the learned merges actually compress: strictly fewer subtokens
    // than characters overall
    assert(got.values.map(_._3).sum < got.values.map(_._2).sum)
  }

  test("novelty curve: first-seen rule replays on the driver") {
    import spark.implicits._
    val out = CorpusOps.q243NoveltyCurve(spark, sf).collect()
      .map(r => r.getAs[Long]("decile") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_grams"),
         r.getAs[Long]("n_novel"), r.getAs[Long]("novelty_ppm"))).toMap
    // driver replay of the whole rule at sf0.001
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }
      .filter(_._2.length >= 5).sortBy(_._1)
    val gramsByDoc = docs.map { case (id, ws) =>
      id -> ws.sliding(5).map(_.mkString(" ")).toSet
    }
    val firstSeen = scala.collection.mutable.Map.empty[String, Long]
    gramsByDoc.foreach { case (id, gs) =>
      gs.foreach(g => if (!firstSeen.contains(g)) firstSeen(g) = id)
    }
    val n = gramsByDoc.length
    val expected = gramsByDoc.zipWithIndex.map { case ((id, gs), i) =>
      (i.toLong * 10 / n, gs.size.toLong,
        gs.count(g => firstSeen(g) == id).toLong)
    }.groupBy(_._1).map { case (dec, rows) =>
      val grams = rows.map(_._2).sum
      val novel = rows.map(_._3).sum
      dec -> (rows.length.toLong, grams, novel, novel * 1000000L / grams)
    }
    assert(out == expected)
    // the whole gram vocabulary is claimed exactly once across deciles
    assert(out.values.map(_._3).sum == firstSeen.size.toLong)
    // (no monotonicity assert: a small decile of unusual docs can
    // legitimately out-novel the opening decile)
  }

  test("decontamination apply reconciles with the q76 verdicts") {
    import spark.implicits._
    val rep = CorpusOps.q245DecontamApply(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // the report must be EXACTLY the >= 100-permille policy applied to
    // the q76 frame itself — the twins cannot drift
    val v = CorpusOps.q76Contamination(spark, sf)
      .select($"doc_id", $"contam_permille").as[(Long, Long)].collect().toMap
    val train = graft.sources.Tables.load(spark, sf, "documents")
      .filter($"doc_id" % 20 =!= 0)
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long"))
      .as[(Long, String, Long)].collect()
    val expected = train.groupBy(_._2).map { case (src, ds) =>
      val (flagged, kept) = ds.partition(d => v.getOrElse(d._1, 0L) >= 100L)
      src -> (ds.length.toLong, flagged.length.toLong, kept.length.toLong,
        kept.map(_._1).sum, kept.map(_._3).sum,
        flagged.length.toLong * 1000000L / ds.length)
    }
    assert(rep == expected)
    rep.values.foreach { case (n, d, k, _, _, _) => assert(n == d + k) }
    // the policy actually bites somewhere (non-vacuous threshold)
    assert(rep.values.exists(_._2 > 0L))
  }

  test("NFD packing: the distributed fold equals a driver walk") {
    import spark.implicits._
    val got = CorpusOps.q247NfdPacking(spark, sf).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("n_oversize"), r.getAs[Long]("n_bins"),
          r.getAs[Long]("waste_tokens"), r.getAs[Long]("waste_ppm"))).toMap
    val cap = 512L
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long"))
      .as[(Long, Long)].collect()
    val expected = docs.groupBy(_._1 / 64).map { case (b, ds) =>
      val costs = ds.map { case (id, t) => (math.min(t, cap), id) }
        .sortBy { case (c, id) => (-c, id) }
      var bins = 0L; var fill = cap
      costs.foreach { case (c, _) =>
        if (fill + c <= cap) fill += c else { bins += 1; fill = c }
      }
      val total = costs.map(_._1).sum
      b -> (ds.length.toLong, total, ds.count(_._2 > cap).toLong, bins,
        bins * cap - total, (bins * cap - total) * 1000000L / (bins * cap))
    }
    assert(got == expected)
    // NFD can never beat the volume bound or waste below zero
    got.values.foreach { case (_, total, _, bins, waste, _) =>
      assert(bins >= (total + cap - 1) / cap)
      assert(waste >= 0L)
    }
  }

  test("q298: phrase hits replay from sliding windows; position-blind match is rejected") {
    import spark.implicits._
    val got = CorpusOps.q298PhraseSearch(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == 3)
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
      .as[(Long, String)].collect()
      .map { case (id, t) => (id, t.split(" ", -1)) }
    // replay: trigram sliding windows give occurrence/doc/id-sum per phrase
    got.foreach { case (ph, (nDocs, nOcc, sumIds)) =>
      val perDoc = texts.map { case (id, ws) =>
        (id, ws.sliding(3).count(_.mkString(" ") == ph))
      }.filter(_._2 > 0)
      assert(nOcc == perDoc.map(_._2).sum.toLong, ph)
      assert(nDocs == perDoc.length.toLong && sumIds == perDoc.map(_._1).sum, ph)
      // docs containing all three WORDS scattered vastly outnumber true
      // phrase docs on this vocabulary — the index matched positions, not
      // bags of words
      val wset = ph.split(" ")
      val scattered = texts.count { case (_, ws) => wset.forall(ws.contains) }
      assert(scattered > perDoc.length, s"$ph scattered $scattered")
    }
  }

  test("q283: CMS never underestimates and replays from a pure-Scala sketch") {
    import graft.functions.Fingerprint
    val rows = CorpusOps.q283CmsAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 24)
    // the one-sided CMS guarantee: min-of-d counters >= the true count
    rows.foreach { case (k, n, est, over, _) =>
      assert(est >= n && over == est - n, s"partkey $k")
    }
    // pure-Scala sketch replay: d=4 x w=256 counters over the exact
    // per-key counts; every probe's estimate must match the query's
    val counts = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("CAST(l_partkey AS BIGINT) AS k").collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val sketch = Array.fill(4, 256)(0L)
    counts.foreach { case (k, n) =>
      (0 until 4).foreach { i =>
        val fp = Fingerprint.hashString(s"$k:$i")
        sketch(i)(((fp * fp / 65536L) % 256L).toInt) += n
      }
    }
    rows.foreach { case (k, n, est, _, _) =>
      assert(counts(k) == n, s"exact count for $k")
      val replay = (0 until 4).map { i =>
        val fp = Fingerprint.hashString(s"$k:$i")
        sketch(i)(((fp * fp / 65536L) % 256L).toInt)
      }.min
      assert(replay == est, s"estimate for $k: $replay vs $est")
    }
  }

  test("q331: every planned needle sits on the truly nearest document boundary") {
    import spark.implicits._
    val rows = graft.ops.CorpusOps.q331NeedlePlan(spark, sf).collect()
    // independent replay: boundaries from the raw corpus
    val toks = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", expr(
        "CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)").as("n"))
      .as[(Long, Long)].collect().sortBy(_._1).filter(_._2 > 0)
    val total = toks.map(_._2).sum
    var off = 0L
    val bounds = toks.map { case (id, n) =>
      val b = (id, off / 2048L, off % 2048L); off += n; b
    }.groupBy(_._2)
    // each context's n_docs repeats across its 5 depth rows
    assert(rows.map(_.getAs[Long]("n_docs")).sum / 5 == toks.length.toLong)
    rows.foreach { r =>
      val (ctx, d) = (r.getAs[Long]("context_id"),
        r.getAs[Long]("depth_target_ppm"))
      val ctxToks = math.min(2048L, total - ctx * 2048L)
      assert(r.getAs[Long]("ctx_tokens") == ctxToks)
      val target = d * ctxToks / 1000000L
      val cands = bounds(ctx).map { case (id, _, boff) =>
        (math.abs(boff - target), boff, id) }.sorted
      val (drift, boff, id) = cands.head
      assert(r.getAs[Long]("insert_before_doc") == id, s"ctx $ctx d$d")
      assert(r.getAs[Long]("insert_at_off") == boff, s"ctx $ctx d$d")
      assert(r.getAs[Long]("drift_tokens") == drift, s"ctx $ctx d$d")
      assert(r.getAs[Long]("actual_depth_ppm") == boff * 1000000L / ctxToks)
    }
    // within a context, achieved offsets are monotone in target depth
    rows.groupBy(_.getAs[Long]("context_id")).values.foreach { rs =>
      val offs = rs.sortBy(_.getAs[Long]("depth_target_ppm"))
        .map(_.getAs[Long]("insert_at_off"))
      assert(offs.zip(offs.tail).forall { case (a, b) => a <= b })
    }
  }

  test("q339: sqrt pacing, rank partition, plants bracket the schedule") {
    val rows = graft.ops.CorpusOps.q339CurriculumSchedule(spark, sf)
      .collect().sortBy(_.getAs[Long]("phase"))
    assert(rows.length == 10)
    val n = rows.last.getAs[Long]("cut_rank")
    rows.foreach { r =>
      val t = r.getAs[Long]("phase")
      val c = math.floor(math.sqrt((t * 100000000000L).toDouble)).toLong
      assert(r.getAs[Long]("competence_ppm") == c)
      assert(r.getAs[Long]("cut_rank") == c * n / 1000000L)
    }
    // the phases partition the ranked universe exactly
    assert(rows.map(_.getAs[Long]("n_new")).sum == n)
    // difficulty frontier is non-decreasing across phases with new docs
    val fronts = rows.filter(_.getAs[Long]("n_new") > 0L)
      .map(_.getAs[Long]("frontier_difficulty_ppm"))
    fronts.sliding(2).foreach(p => assert(p(0) <= p(1)))
    // the uniform-fanout walk's difficulty is plant-internal (its words
    // never occur in the corpus), hence SF-invariant: 1e6 - 16806 — and
    // it must be the LAST phase's frontier (the hardest document)
    assert(rows.last.getAs[Long]("frontier_difficulty_ppm") == 983194L)
    assert(rows.last.getAs[Long]("n_new") > 0L)
  }

  test("q339: hand-computed 4-doc corpus pins every phase row") {
    import spark.implicits._
    // corpus = easy plant (difficulty 0, rank 1 by id tie-break),
    // A = 'aa bb aa bb aa' (difficulty 125000 once B skews the dict),
    // B = 'aa bb aa cc' (333334), hard plant walk (983194). Cuts over
    // n = 4: ranks unlock at phases 1, 3, 6, 10 (floor(sqrt(t/10))·4).
    val dir = java.nio.file.Files.createTempDirectory("curr_plant").toString
    Seq((10L, "aa bb aa bb aa", "en", "planted", 14L),
        (11L, "aa bb aa cc", "en", "planted", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.ops.CorpusOps.q339CurriculumSchedule(spark, dir)
      .collect().sortBy(_.getAs[Long]("phase"))
      .map(r => (r.getAs[Long]("phase"), r.getAs[Long]("n_new"),
        r.getAs[Long]("mean_new_difficulty_ppm"),
        r.getAs[Long]("frontier_difficulty_ppm")))
    val want = Seq(
      (1L, 1L, 0L, 0L),           // easy plant, deterministic cycle
      (2L, 0L, 0L, 0L),
      (3L, 1L, 125000L, 125000L), // A: (2·0.75e6 + 2·1e6)/4 pred
      (4L, 0L, 0L, 0L), (5L, 0L, 0L, 0L),
      (6L, 1L, 333334L, 333334L), // B: (0.75e6 + 1e6 + 0.25e6)/3 pred
      (7L, 0L, 0L, 0L), (8L, 0L, 0L, 0L), (9L, 0L, 0L, 0L),
      (10L, 1L, 983194L, 983194L)) // the walk
    assert(rows.toSeq == want, s"got:\n${rows.mkString("\n")}")
  }

  // ------------------------------------------------------------- X326

  test("q350: Hill recovers the harmonic plant's alpha = 1 within quantization") {
    val rows = graft.ops.CorpusOps.q350HillTail(spark, sf).collect()
      .map(r => r.getAs[String]("scope") -> r).toMap
    assert(rows.keySet == Set("corpus", "plant"))
    // the exact harmonic tail x_i = 1e9 div i has alpha = 1 by
    // construction; half-bit quantization costs a few percent at most
    val pa = rows("plant").getAs[Long]("alpha_ppm")
    assert(pa > 900000L && pa < 1100000L, s"plant alpha $pa")
    assert(rows("plant").getAs[Long]("cut_freq") ==
      1000000000L / (graft.ops.CorpusOps.HillK + 1L))
    rows.values.foreach { r =>
      val sd = r.getAs[Long]("sum_delta_hb")
      assert(sd >= 0L)
      // alpha replays from its own row: 2k*1e12 div (693147 * sum_delta)
      assert(r.getAs[Long]("alpha_ppm") == (if (sd == 0L) 0L
        else 2L * r.getAs[Long]("k") * 1000000000000L / (693147L * sd)))
    }
    // the honest corpus finding: random draws from a 31-word lexicon
    // produce near-UNIFORM bigram frequencies — the estimator must say
    // "no heavy tail" loudly (huge alpha / near-flat top-k), exactly
    // what it exists to flag about machine-generated text
    val cr = rows("corpus")
    assert(cr.getAs[Long]("sum_delta_hb") <= 20L)
    assert(cr.getAs[Long]("alpha_ppm") == 0L ||
      cr.getAs[Long]("alpha_ppm") > 20000000L)
  }

  // ------------------------------------------------------------- X327

  test("q360: plant pins Chao1 = 29 from D = 20; estimator structure holds") {
    val rows = graft.ops.CorpusOps.q360ChaoRichness(spark, sf).collect()
    val xq = rows.filter(_.getAs[String]("lang") == "xq").head
    // hand-constructed multiplicities: 10 singletons, 4 doubletons,
    // 6 tripletons -> D = 20, Chao1 = 20 + 10*9/(2*5) = 29
    assert(xq.getAs[Long]("d_samp") == 20L && xq.getAs[Long]("n1") == 10L &&
      xq.getAs[Long]("n2") == 4L)
    assert(xq.getAs[Long]("chao1") == 29L && xq.getAs[Long]("d_full") == 20L)
    assert(xq.getAs[Long]("err_ppm") == 450000L)
    rows.foreach { r =>
      val (ds, n1, n2) = (r.getAs[Long]("d_samp"), r.getAs[Long]("n1"),
        r.getAs[Long]("n2"))
      // the correction is non-negative and the formula replays exactly
      assert(r.getAs[Long]("chao1") == ds + n1 * (n1 - 1) / (2 * (n2 + 1)))
      assert(r.getAs[Long]("chao1") >= ds)
      // sampling can only lose types vs the full corpus
      assert(ds <= r.getAs[Long]("d_full"))
      assert(n1 + n2 <= ds)
    }
    // the documented honest negative: corpus langs are singleton-
    // dominated (near-uniform synthetic trigrams), which is WHY Chao1
    // overshoots here — the condition itself is what the spec pins
    rows.filter(_.getAs[String]("lang") != "xq").foreach { r =>
      assert(r.getAs[Long]("n1") * 2 > r.getAs[Long]("d_samp"),
        s"singleton domination expected on synthetic text: $r")
    }
  }

  test("q351: full driver replay of the count-of-counts, identities hold") {
    import spark.implicits._
    val rows = graft.ops.CorpusOps.q351GoodTuring(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    // independent driver replay over the raw documents (split(" ", -1)
    // per the CLAUDE.md rule) — every column, not just the identities
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select($"lang", $"text").as[(String, String)].collect()
    val byLang = docs.groupBy(_._1)
    assert(rows.keySet == byLang.keySet)
    byLang.foreach { case (lang, ds) =>
      val counts = scala.collection.mutable.Map.empty[String, Long]
      ds.foreach { case (_, t) =>
        val ws = t.split(" ", -1)
        if (ws.length >= 3)
          (0 to ws.length - 3).foreach { i =>
            val g = s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}"
            counts(g) = counts.getOrElse(g, 0L) + 1L
          }
      }
      val r = rows(lang)
      val n = counts.values.sum
      def cc(f: Long) = counts.values.count(_ == f).toLong
      assert(r.getAs[Long]("n_tokens") == n, s"$lang tokens")
      assert(r.getAs[Long]("n_types") == counts.size.toLong)
      assert(r.getAs[Long]("n1") == cc(1L))
      assert(r.getAs[Long]("n2") == cc(2L))
      assert(r.getAs[Long]("n3") == cc(3L))
      assert(r.getAs[Long]("unseen_ppm") == cc(1L) * 1000000L / n)
      assert(r.getAs[Long]("r1_star_milli") ==
        (if (cc(1L) == 0L) 0L else 2L * cc(2L) * 1000L / cc(1L)))
      // the Good-Turing frame: sum(r * N_r) = N exactly
      assert(counts.values.groupBy(identity)
        .map { case (f, g) => f * g.size }.sum == n)
    }
    // the corpus-level story: a live tail (every language far from
    // saturated at the trigram level)
    rows.values.foreach(r => assert(r.getAs[Long]("unseen_ppm") > 300000L))
  }

  // ------------------------------------------------------------- X318

  test("q343: sorted chunking is the argmin, sorted leg replays exactly") {
    import spark.implicits._
    val rows = graft.ops.CorpusOps.q343BatchPadding(spark, sf).collect()
      .map(r => r.getAs[String]("strategy") -> r).toMap
    val arr = rows("arrival"); val srt = rows("sorted_desc")
    // same corpus, same batch-size multiset
    assert(arr.getAs[Long]("real_tokens") == srt.getAs[Long]("real_tokens"))
    assert(arr.getAs[Long]("n_batches") == srt.getAs[Long]("n_batches"))
    // the exchange-argument theorem: sorted contiguous chunking
    // minimizes sum(batch maxima) over ALL partitions into groups of
    // size <= B, so ANY arrival order pads at least as much
    assert(srt.getAs[Long]("padded_tokens") <= arr.getAs[Long]("padded_tokens"))
    rows.values.foreach { r =>
      val (p, t) = (r.getAs[Long]("padded_tokens"), r.getAs[Long]("real_tokens"))
      assert(r.getAs[Long]("waste_ppm") == (p - t) * 1000000L / p)
      assert(p >= t)
    }
    // driver replay of the sorted leg (split(" ", -1) keeps trailing
    // empties, matching Spark's size(split(text, ' ', -1)))
    val b = graft.ops.CorpusOps.PadBatch.toInt
    val toks = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => (t.split(" ", -1).length.toLong, id) }
      .sortBy { case (n, id) => (-n, id) }.map(_._1)
    val batches = toks.grouped(b).toSeq
    assert(srt.getAs[Long]("padded_tokens") ==
      batches.map(g => g.max * g.length).sum)
    assert(srt.getAs[Long]("real_tokens") == toks.sum)
  }

  test("q391: greedy coverage replays exactly; gains non-increasing; greedy beats baselines") {
    import spark.implicits._
    val ops = graft.ops.CorpusOps
    val rows = ops.q391CoverageSelect(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // full replay: pool, gram sets, 8 greedy rounds, both baselines
    val all = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val k = math.max(1L, all.length.toLong / 200L)
    val pool = all.map { case (id, t) =>
      (id, Option(t).getOrElse("").split(" ", -1))
    }.filter(d => d._2.length >= 3 && d._1 % k == 0).map { case (id, ws) =>
      id -> (0 until ws.length - 2).map(i =>
        graft.functions.Fingerprint.hashString(
          s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}")).toSet
    }.sortBy(_._1)
    val universe = pool.flatMap(_._2).toSet.size.toLong
    var covered = Set.empty[Long]
    var picked = Set.empty[Long]
    val gains = (1 to ops.CoverK).map { i =>
      val (d, g) = pool.filter(p => !picked.contains(p._1))
        .map(p => (p._1, (p._2 diff covered).size.toLong))
        .minBy { case (id, gn) => (-gn, id) }
      picked += d; covered ++= pool.find(_._1 == d).get._2
      val r = rows(s"g$i")
      assert(r.getAs[Long]("doc_id") == d, s"round $i pick")
      assert(r.getAs[Long]("gain") == g, s"round $i gain")
      g
    }
    // submodularity's signature: greedy marginal gains are non-increasing
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b })
    assert(rows("z_greedy").getAs[Long]("covered") == covered.size.toLong)
    assert(rows("z_greedy").getAs[Long]("covered") == gains.sum)
    assert(rows("z_universe").getAs[Long]("covered") == universe)
    // baselines replayed + the selection claim: greedy >= both
    def covOf(ids: Seq[Long]): Long =
      pool.filter(p => ids.contains(p._1)).flatMap(_._2).toSet.size.toLong
    val sized = pool.map { case (id, g0) =>
      val sq = ((id % 1000003L) + 1000003L) % 1000003L
      (id, g0.size.toLong,
        graft.functions.Fingerprint.hashString(s"cov:$id:${sq * sq}"))
    }
    // pool gram multiset sizes: entries are DISTINCT per doc, so n = |set|
    val rand = sized.sortBy(d => (d._3, d._1)).take(ops.CoverK).map(_._1)
    val long0 = sized.sortBy(d => (-d._2, d._1)).take(ops.CoverK).map(_._1)
    assert(rows("z_random").getAs[Long]("covered") == covOf(rand))
    assert(rows("z_longest").getAs[Long]("covered") == covOf(long0))
    assert(rows("z_greedy").getAs[Long]("covered") >=
      rows("z_longest").getAs[Long]("covered"))
    assert(rows("z_greedy").getAs[Long]("covered") >=
      rows("z_random").getAs[Long]("covered"))
  }

  test("q396: seed-vocab frontier replays exactly; fertility monotone under nested vocabs") {
    import spark.implicits._
    val ops = graft.ops.CorpusOps
    val rows = ops.q396SeedVocabFrontier(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // full replay: types, weighted substrings, rank, per-budget DP
    val tt = graft.sources.Tables.load(spark, sf, "documents")
      .select($"text").as[String].collect()
      .flatMap(t => Option(t).getOrElse("").split(" ", -1))
      .filter(_.matches("[a-z]+"))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val weights = tt.flatMap { case (w, n) =>
      for (g <- 1 to ops.SeedMaxLen; i <- 0 to w.length - g)
        yield (w.substring(i, i + g), n)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val ranked = weights.sortBy { case (sub, wt) => (-wt, sub) }.map(_._1)
    val chars = weights.map(_._1).filter(_.length == 1).toSet
    def viterbi(w: String, voc: Set[String]): Long = {
      val dp = Array.fill(w.length + 1)(1000000L); dp(0) = 0L
      for (i <- 1 to w.length; g <- 1 to math.min(ops.SeedMaxLen, i))
        if (g == 1 || voc.contains(w.substring(i - g, i)))
          dp(i) = math.min(dp(i), dp(i - g) + 1L)
      dp(w.length)
    }
    val nw = tt.map(_._2).sum
    val ct = tt.map { case (w, n) => n * w.length }.sum
    assert(rows("v000_chars").getAs[Long]("tokens") == ct)
    assert(rows("v000_chars").getAs[Long]("vocab_size") == chars.size.toLong)
    val toks = ops.SeedVocabSweep.map { v =>
      val voc = ranked.take(v).toSet ++ chars
      val t = tt.map { case (w, n) => n * viterbi(w, voc) }.sum
      val r = rows(f"v$v%03d")
      assert(r.getAs[Long]("vocab_size") == voc.size.toLong, s"v$v size")
      assert(r.getAs[Long]("tokens") == t, s"v$v tokens")
      assert(r.getAs[Long]("fert_milli") == t * 1000L / nw, s"v$v fert")
      assert(r.getAs[Long]("comp_ppm") == t * 1000000L / ct, s"v$v comp")
      t
    }
    // nested vocabularies: optimal token count monotone non-increasing
    assert(toks.zip(toks.tail).forall { case (a, b) => b <= a })
    assert(toks.head <= ct)
  }
}
