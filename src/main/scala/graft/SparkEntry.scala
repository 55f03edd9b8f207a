package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Relational, SchemaOps, Views}
import graft.operators.{FunctionOps, TransferOps}
import graft.ops.{AffinityOps, CorpusOps, DedupOps, EventOps, MultimodalOps, PipelineOps, SimilarityOps, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an executed operator from the SURVEY.md §2
  * inventory (or an extension op); [[oracleSql]] carries the DuckDB-dialect
  * equivalent the driver replays over the same parquet tables.
  *
  * DuckDB/Spark hash-stability rules used throughout the oracles:
  *  - integer SUMs are wrapped in CAST(... AS BIGINT) — DuckDB widens
  *    BIGINT sums to HUGEINT, Spark keeps LongType;
  *  - doubles are reduced per-row to exact integer cents before summing;
  *  - double→int casts only ever happen on integral values (DuckDB rounds,
  *    Spark truncates);
  *  - every query ends in a total ORDER BY with a unique tiebreak.
  */
object SparkEntry {

  /** DuckDB replay of `graft_fingerprint`'s UTF-8-byte fold, byte-exact on
    * ALL of Unicode (not just ASCII).
    *
    * The oracle side first maps the string to its codepoint list
    * (`string_split(s, '')` splits per codepoint — verified down to ZWJ
    * emoji sequences on DuckDB 1.0 — and `ascii(c)` yields the codepoint),
    * prepends an explicit 0 accumulator (`list_reduce` otherwise seeds with
    * the FIRST element, which is only correct when that element is a single
    * byte), then this fold lambda expands each codepoint into its 1-4 UTF-8
    * bytes algebraically: folding k bytes b1..bk from accumulator a is
    * a*31^k + b1*31^(k-1) + ... + bk (mod 1e9+7), so per codepoint c the
    * step is a CASE over the UTF-8 encoder ranges with 31^k in
    * {31, 961, 29791, 923521}. Max intermediate a*923521 < 2^50 — no int64
    * overflow. This makes every fingerprint oracle byte-identical to
    * Spark's `graft_fingerprint` (functions/Fingerprint.scala) on arbitrary
    * UTF-8 text; q252_utf8_fingerprint pins the non-ASCII lane explicitly.
    */
  private val FpByteFold: String =
    "(a, b) -> CASE WHEN b < 128 THEN (a*31 + b) % 1000000007 " +
      "WHEN b < 2048 THEN (a*961 + (192 + b//64)*31 + 128 + b%64) % 1000000007 " +
      "WHEN b < 65536 THEN (a*29791 + (224 + b//4096)*961 + (128 + (b//64)%64)*31 + 128 + b%64) % 1000000007 " +
      "ELSE (a*923521 + (240 + b//262144)*29791 + (128 + (b//4096)%64)*961 + (128 + (b//64)%64)*31 + 128 + b%64) % 1000000007 END"

  /** q289's oracle, generated: the Gonzalez greedy unrolls into 8 chained
    * pick/update CTE levels (q275's chained-DP discipline) — p1 seeds at
    * the smallest vec_id, each m_r carries the running min-distance frame
    * forward, each p_r takes the farthest point (ties to smallest id). */
  private def q289OracleSql: String = {
    def d2(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
    val head =
      s"""WITH e AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |p1 AS MATERIALIZED (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 1),
         |m1 AS MATERIALIZED (SELECT e.vec_id, e.q,
         |    ${d2("e.q", "p.q")} AS d FROM e, p1 p)""".stripMargin
    val levels = (2 to 8).map { r =>
      s"""p$r AS MATERIALIZED (SELECT vec_id, q, d FROM m${r - 1}
         |  ORDER BY d DESC, vec_id LIMIT 1),
         |m$r AS MATERIALIZED (SELECT m.vec_id, m.q,
         |    least(m.d, ${d2("m.q", "p.q")}) AS d FROM m${r - 1} m, p$r p)"""
        .stripMargin
    }
    val picks = (2 to 8).map(r =>
      s"UNION ALL SELECT $r, vec_id, d FROM p$r").mkString("\n")
    s"""$head,
       |${levels.mkString(",\n")}
       |SELECT CAST(rank AS BIGINT) AS rank, vec_id,
       |  CAST(radius2 AS BIGINT) AS radius2 FROM (
       |  SELECT 1 AS rank, vec_id, -1 AS radius2 FROM p1
       |  $picks
       |  UNION ALL SELECT 9, -1, (SELECT max(d) FROM m8))
       |ORDER BY rank""".stripMargin
  }

  /** q317's oracle, generated: the 48-perm signature (q293's family)
    * plus one banded self-join per plan — 1×48 / 6×8 / 48×1 — against
    * the exact J ≥ 0.8 truth over the q213 sample. */
  private def q317OracleSql: String = {
    val sigEntries = (0 until 48).map(i =>
      s"list_min(list_transform(ss, x -> (x * ${4 * i + 3} + ${2 * i + 1}) % 1000000007))")
      .mkString("[\n", ",\n", "]")
    val plans = Seq((1, 48, "p1"), (6, 8, "p2"), (48, 1, "p3"))
    val planBlocks = plans.map { case (b, r, tag) =>
      val bandRows = (0 until b).map { j =>
        val parts = (0 until r)
          .map(t => s"CAST(sig[${j * r + t + 1}] AS VARCHAR)")
          .mkString(" || ':' || ")
        s"SELECT doc_id, $j AS band_idx, $parts AS band_key FROM sigs"
      }.mkString("\n  UNION ALL ")
      s"""bands_$tag AS MATERIALIZED ($bandRows),
         |cand_$tag AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands_$tag x JOIN bands_$tag y
         |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         |    AND x.doc_id < y.doc_id),
         |m_$tag AS (SELECT CAST(count(*) AS BIGINT) AS n_cand,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand_$tag c JOIN truth t
         |      ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_tp
         |  FROM cand_$tag)""".stripMargin
    }.mkString(",\n")
    val outRows = plans.map { case (b, r, tag) =>
      s"""SELECT CAST($b AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS rows_per_band,
         |  m_$tag.n_cand AS n_candidates, nt.n AS n_truth,
         |  m_$tag.n_tp AS n_true_positives,
         |  CASE WHEN m_$tag.n_cand = 0 THEN 0
         |    ELSE m_$tag.n_tp * 1000000 // m_$tag.n_cand END AS precision_ppm,
         |  CASE WHEN nt.n = 0 THEN 0
         |    ELSE m_$tag.n_tp * 1000000 // nt.n END AS recall_ppm
         |FROM m_$tag, nt""".stripMargin
    }.mkString("\nUNION ALL ")
    raw"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |    WHERE len(string_split(text, ' ')) >= 3
       |      AND doc_id % greatest(1, (SELECT count(*) FROM documents) // 500) = 0),
       |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
       |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
       |hs AS MATERIALIZED (SELECT doc_id,
       |    list_sort(list_distinct(list_transform(shingles,
       |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |        $FpByteFold)))) AS ss FROM sh),
       |sigs AS MATERIALIZED (SELECT doc_id, $sigEntries AS sig FROM hs),
       |truth AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) * 1000000
       |    // CAST(len(a.ss) + len(b.ss)
       |        - len(list_intersect(a.ss, b.ss)) AS BIGINT) >= 800000),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth),
       |$planBlocks
       |SELECT * FROM (
       |$outRows
       |) ORDER BY n_bands""".stripMargin
  }

  /** q320's oracle, generated: 30 BPE learn rounds as chained CTE blocks
    * (weighted pair-count → deterministic argmax → run-parity merge marks
    * → renumbered symbol table). Greedy left-to-right merging is
    * state-free here: a≠b occurrences can never overlap, and for a=b
    * runs greedy merges exactly the even run offsets, so merge starts
    * are `(pos - run_start) % 2 = 0` with run_start from gaps-and-islands
    * window math (q294's chained-CTE discipline — DuckDB 1.0 list_reduce
    * struct state is off-limits). An empty argmax round degrades to an
    * identity rewrite and contributes no report row, matching the Spark
    * loop's early stop. */
  /** One greedy merge-application round over a (word, c, pos, sym)
    * symbol table: run-parity window math marks merge starts (a=b runs
    * merge exactly the even offsets), LAG suppresses the consumed
    * partner, ROW_NUMBER renumbers. Shared by the learn chain (s-tables)
    * and q335's holdout apply chain (h-tables) — one definition of the
    * replayed greedy pass. */
  private def bpeApplyBlockSql(prev: String, bTab: String, mTab: String,
      outTab: String): String =
    s"""$mTab AS MATERIALIZED (
       |  SELECT z.word, z.c, z.pos, z.sym, z.nsym,
       |    CASE WHEN z.nsym IS NOT NULL AND z.sym = b.a AND z.nsym = b.b
       |      AND (b.a <> b.b OR (z.pos - z.bst) % 2 = 0)
       |      THEN 1 ELSE 0 END AS st
       |  FROM (SELECT word, c, pos, sym, nsym,
       |      MIN(pos) OVER (PARTITION BY word, sym, blk) AS bst
       |    FROM (SELECT word, c, pos, sym,
       |        LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym,
       |        pos - ROW_NUMBER() OVER (PARTITION BY word, sym ORDER BY pos) AS blk
       |      FROM $prev)) z
       |  LEFT JOIN $bTab b ON TRUE),
       |$outTab AS MATERIALIZED (
       |  SELECT word, c,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
       |    CASE WHEN st = 1 THEN sym || nsym ELSE sym END AS sym
       |  FROM (SELECT *, LAG(st, 1, 0) OVER (PARTITION BY word ORDER BY pos) AS pst
       |    FROM $mTab)
       |  WHERE pst = 0)""".stripMargin

  /** The w0→s$n BPE learn-chain CTE block shared by the q320 report,
    * the q325 application oracle and q335's trainer leg — one definition
    * of the replayed loop. `docsRel` is the relation the word-frequency
    * table folds from (q335 trains on the even pmod-half of an
    * augmented documents CTE). */
  private def bpeChainSql(n: Int, docsRel: String = "documents",
      byteInit: Boolean = false): String = {
    val rounds = (1 to n).map { k =>
      val prev = s"s${k - 1}"
      s"""p$k AS MATERIALIZED (SELECT x.sym AS a, y.sym AS b,
         |    CAST(sum(x.c) AS BIGINT) AS pc
         |  FROM $prev x JOIN $prev y ON x.word = y.word AND y.pos = x.pos + 1
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT a, b, pc FROM p$k
         |  ORDER BY pc DESC, a, b LIMIT 1),
         |${bpeApplyBlockSql(prev, s"b$k", s"m$k", s"s$k")}""".stripMargin
    }.mkString(",\n")
    // byteInit: q366's byte-level symbolization — each UTF-8 byte as a
    // 2-hex-digit symbol (strlen = DuckDB byte length; hex(encode(...))
    // matches Spark's lower(hex(encode(word, 'UTF-8'))) chunking)
    val s0 =
      if (byteInit)
        s"""s0 AS MATERIALIZED (
           |  SELECT word, c, pos, substr(h, CAST(pos * 2 - 1 AS INT), 2) AS sym
           |  FROM (SELECT word, c, lower(hex(encode(word))) AS h,
           |          CAST(unnest(generate_series(1, strlen(word))) AS BIGINT) AS pos
           |        FROM w0))""".stripMargin
      else
        s"""s0 AS MATERIALIZED (
           |  SELECT word, c,
           |    CAST(unnest(generate_series(1, length(word))) AS BIGINT) AS pos,
           |    unnest(string_split(word, '')) AS sym
           |  FROM w0)""".stripMargin
    s"""w0 AS MATERIALIZED (
       |  SELECT w AS word, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $docsRel)
       |  WHERE len(w) > 0 GROUP BY w),
       |$s0,
       |$rounds""".stripMargin
  }

  /** q366's oracle: the SAME generated learn chain as q320/q325/q335 with
    * the byte-level s0 (hex-pair symbols), trained over q252's
    * plant-augmented corpus; the plant words encode through a parallel
    * h0→h30 apply chain (q335's holdout machinery) and the corpus leg
    * folds the s30 symbolization per language. */
  private def q366OracleSql: String = {
    val n = 30
    val plantRows = graft.ops.TextOps.Q366Plant.map {
      case (id, w) => s"(CAST($id AS BIGINT), '$w')"
    }.mkString(",\n    ")
    val caseArms = (1 to 7).map(i =>
      s"WHEN $i THEN '${graft.ops.TextOps.Utf8Plant(i)}'").mkString(" ")
    val holdRounds = (1 to n).map { k =>
      bpeApplyBlockSql(s"h${k - 1}", s"b$k", s"hm$k", s"h$k")
    }.mkString(",\n")
    s"""WITH bdocs AS MATERIALIZED (
       |  SELECT lang, text || CASE doc_id % 8 $caseArms ELSE '' END
       |    || ' fin' AS t2
       |  FROM documents),
       |tdocs AS (SELECT t2 AS text FROM bdocs),
       |${bpeChainSql(n, "tdocs", byteInit = true)},
       |tok AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n_tok
       |  FROM s$n GROUP BY word),
       |wd AS (SELECT lang, w AS word FROM (
       |    SELECT lang,
       |      unnest(list_filter(string_split(t2, ' '), x -> x <> '')) AS w
       |    FROM bdocs)),
       |corp AS (SELECT 'lang:' || lang AS grp,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(strlen(word)) AS BIGINT) AS n_bytes,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    '' AS toks
       |  FROM wd JOIN tok USING (word) GROUP BY lang),
       |pw AS (SELECT * FROM (VALUES
       |    $plantRows) v(w_id, word)),
       |h0 AS MATERIALIZED (
       |  SELECT word, CAST(1 AS BIGINT) AS c, pos,
       |    substr(h, CAST(pos * 2 - 1 AS INT), 2) AS sym
       |  FROM (SELECT word, lower(hex(encode(word))) AS h,
       |          CAST(unnest(generate_series(1, strlen(word))) AS BIGINT) AS pos
       |        FROM (SELECT DISTINCT word FROM pw))),
       |$holdRounds,
       |ptok AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tokens,
       |    string_agg(sym, ' ' ORDER BY pos) AS toks
       |  FROM h$n GROUP BY word),
       |plant AS (SELECT 'word:' || CAST(pw.w_id AS VARCHAR) AS grp,
       |    CAST(1 AS BIGINT) AS n_words,
       |    CAST(strlen(pw.word) AS BIGINT) AS n_bytes,
       |    ptok.n_tokens, ptok.toks
       |  FROM pw JOIN ptok USING (word))
       |SELECT grp, n_words, n_bytes, n_tokens,
       |  n_bytes * 1000000 // n_tokens AS bytes_per_token_ppm, toks
       |FROM (SELECT * FROM corp UNION ALL SELECT * FROM plant)
       |ORDER BY grp""".stripMargin
  }

  /** q372's oracle: q366's generated chain verbatim with the fallback
    * count folded into the same dictionary — a hex-pair symbol of
    * length 2 is an unmerged byte on both engines. */
  private def q372OracleSql: String = {
    val n = 30
    val plantRows = graft.ops.TextOps.Q366Plant.map {
      case (id, w) => s"(CAST($id AS BIGINT), '$w')"
    }.mkString(",\n    ")
    val caseArms = (1 to 7).map(i =>
      s"WHEN $i THEN '${graft.ops.TextOps.Utf8Plant(i)}'").mkString(" ")
    val holdRounds = (1 to n).map { k =>
      bpeApplyBlockSql(s"h${k - 1}", s"b$k", s"hm$k", s"h$k")
    }.mkString(",\n")
    s"""WITH bdocs AS MATERIALIZED (
       |  SELECT lang, text || CASE doc_id % 8 $caseArms ELSE '' END
       |    || ' fin' AS t2
       |  FROM documents),
       |tdocs AS (SELECT t2 AS text FROM bdocs),
       |${bpeChainSql(n, "tdocs", byteInit = true)},
       |tok AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n_tok,
       |    CAST(sum(CASE WHEN length(sym) = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_fb
       |  FROM s$n GROUP BY word),
       |wd AS (SELECT lang, w AS word FROM (
       |    SELECT lang,
       |      unnest(list_filter(string_split(t2, ' '), x -> x <> '')) AS w
       |    FROM bdocs)),
       |corp AS (SELECT 'lang:' || lang AS grp,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(strlen(word)) AS BIGINT) AS n_bytes,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_fb) AS BIGINT) AS n_fallback
       |  FROM wd JOIN tok USING (word) GROUP BY lang),
       |pw AS (SELECT * FROM (VALUES
       |    $plantRows) v(w_id, word)),
       |h0 AS MATERIALIZED (
       |  SELECT word, CAST(1 AS BIGINT) AS c, pos,
       |    substr(h, CAST(pos * 2 - 1 AS INT), 2) AS sym
       |  FROM (SELECT word, lower(hex(encode(word))) AS h,
       |          CAST(unnest(generate_series(1, strlen(word))) AS BIGINT) AS pos
       |        FROM (SELECT DISTINCT word FROM pw))),
       |$holdRounds,
       |ptok AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN length(sym) = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_fallback
       |  FROM h$n GROUP BY word),
       |plant AS (SELECT 'word:' || CAST(pw.w_id AS VARCHAR) AS grp,
       |    CAST(1 AS BIGINT) AS n_words,
       |    CAST(strlen(pw.word) AS BIGINT) AS n_bytes,
       |    ptok.n_tokens, ptok.n_fallback
       |  FROM pw JOIN ptok USING (word))
       |SELECT grp, n_words, n_bytes, n_tokens, n_fallback,
       |  n_bytes * 1000000 // n_tokens AS bytes_per_token_ppm,
       |  n_fallback * 1000000 // n_tokens AS fallback_ppm
       |FROM (SELECT * FROM corp UNION ALL SELECT * FROM plant)
       |ORDER BY grp""".stripMargin
  }

  /** q376's oracle: ONE generated 30-round byte-level chain; each budget
    * reads the TRAINER's own state s₁₀/s₂₀/s₃₀ (and the holdout chain's
    * h₁₀/h₂₀/h₃₀ for the plants) — the cross-algorithm check against
    * the Spark side's rank-order ENCODE at the same budgets. */
  private def q376OracleSql: String = {
    val budgets = graft.ops.TextOps.MergeBudgets
    val n = budgets.max
    val plantRows = graft.ops.TextOps.Q366Plant.map {
      case (id, w) => s"(CAST($id AS BIGINT), '$w')"
    }.mkString(",\n    ")
    val caseArms = (1 to 7).map(i =>
      s"WHEN $i THEN '${graft.ops.TextOps.Utf8Plant(i)}'").mkString(" ")
    val holdRounds = (1 to n).map { k =>
      bpeApplyBlockSql(s"h${k - 1}", s"b$k", s"hm$k", s"h$k")
    }.mkString(",\n")
    val budgetCtes = budgets.map { b =>
      s"""tok$b AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(sum(CASE WHEN length(sym) = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_fb
         |  FROM s$b GROUP BY word),
         |corp$b AS (SELECT CAST($b AS BIGINT) AS budget, 'corpus' AS grp,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(strlen(word)) AS BIGINT) AS n_bytes,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(n_fb) AS BIGINT) AS n_fallback
         |  FROM wd JOIN tok$b USING (word)),
         |ptok$b AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN length(sym) = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_fallback
         |  FROM h$b GROUP BY word),
         |plant$b AS (SELECT CAST($b AS BIGINT) AS budget,
         |    'word:' || CAST(pw.w_id AS VARCHAR) AS grp,
         |    CAST(1 AS BIGINT) AS n_words,
         |    CAST(strlen(pw.word) AS BIGINT) AS n_bytes,
         |    ptok$b.n_tokens, ptok$b.n_fallback
         |  FROM pw JOIN ptok$b USING (word))""".stripMargin
    }.mkString(",\n")
    val unions = budgets.flatMap(b =>
      Seq(s"SELECT * FROM corp$b", s"SELECT * FROM plant$b"))
      .mkString("\nUNION ALL ")
    s"""WITH bdocs AS MATERIALIZED (
       |  SELECT lang, text || CASE doc_id % 8 $caseArms ELSE '' END
       |    || ' fin' AS t2
       |  FROM documents),
       |tdocs AS (SELECT t2 AS text FROM bdocs),
       |${bpeChainSql(n, "tdocs", byteInit = true)},
       |wd AS MATERIALIZED (SELECT w AS word FROM (
       |    SELECT unnest(list_filter(string_split(t2, ' '), x -> x <> '')) AS w
       |    FROM bdocs)),
       |pw AS (SELECT * FROM (VALUES
       |    $plantRows) v(w_id, word)),
       |h0 AS MATERIALIZED (
       |  SELECT word, CAST(1 AS BIGINT) AS c, pos,
       |    substr(h, CAST(pos * 2 - 1 AS INT), 2) AS sym
       |  FROM (SELECT word, lower(hex(encode(word))) AS h,
       |          CAST(unnest(generate_series(1, strlen(word))) AS BIGINT) AS pos
       |        FROM (SELECT DISTINCT word FROM pw))),
       |$holdRounds,
       |$budgetCtes
       |SELECT budget, grp, n_words, n_bytes, n_tokens, n_fallback,
       |  n_bytes * 1000000 // n_tokens AS bytes_per_token_ppm,
       |  n_fallback * 1000000 // n_tokens AS fallback_ppm
       |FROM ($unions)
       |ORDER BY budget, grp""".stripMargin
  }

  private def q320OracleSql: String = {
    val n = 30
    val report = (1 to n).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS merge_idx, b.a AS sym_a, b.b AS sym_b,
         |  b.a || b.b AS merged, b.pc AS pair_count,
         |  (SELECT CAST(sum(c) AS BIGINT) FROM s${k - 1})
         |    - (SELECT CAST(sum(c) AS BIGINT) FROM s$k) AS n_merged,
         |  (SELECT CAST(sum(c) AS BIGINT) FROM s$k) AS tokens_after,
         |  (SELECT CAST(count(DISTINCT sym) AS BIGINT) FROM s$k) AS n_sym_types
         |FROM b$k b""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeChainSql(n)}
       |SELECT * FROM (
       |$report
       |) ORDER BY merge_idx""".stripMargin
  }

  /** q325's oracle: the same generated learn chain, then the final s30
    * symbolization becomes the word→token-count dictionary applied to
    * the per-(lang, source) word stream. */
  private def q325OracleSql: String =
    s"""WITH ${bpeChainSql(30)},
       |tok AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n_tok
       |  FROM s30 GROUP BY word),
       |wd AS (SELECT lang, source,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |  FROM documents)
       |SELECT wd.lang, wd.source,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(tok.n_tok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(length(wd.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(tok.n_tok) AS BIGINT) * 1000000
       |    // CAST(count(*) AS BIGINT) AS fertility_ppm,
       |  CAST(sum(length(wd.word)) AS BIGINT) * 1000000
       |    // CAST(sum(tok.n_tok) AS BIGINT) AS chars_per_token_ppm
       |FROM wd JOIN tok USING (word)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q338's oracle: the shared NB score chain, then isotonic fit via the
    * MINIMAX formulation — fit_i = max_{a≤i} min_{b≥i} floor(avg(a,b))
    * over the bounded plant-score bins (provably equal to the driver's
    * PAV because floor commutes with max and min — the gate is a
    * cross-ALGORITHM check), plus the corpus step-function bin mapping
    * and exact Brier numerators. */
  private def q338OracleSql: String =
    s"""WITH $nbScoreChainSql,
       |bins AS MATERIALIZED (
       |  SELECT score, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS np
       |  FROM ps GROUP BY score),
       |pre AS MATERIALIZED (
       |  SELECT score, n, np,
       |    CAST(row_number() OVER (ORDER BY score) AS BIGINT) AS rn,
       |    CAST(sum(n) OVER (ORDER BY score) AS BIGINT) AS cn,
       |    CAST(sum(np) OVER (ORDER BY score) AS BIGINT) AS cp
       |  FROM bins),
       |seg AS MATERIALIZED (
       |  SELECT a.rn AS ra, b.rn AS rb,
       |    (b.cp - a.cp + a.np) * 1000000 // (b.cn - a.cn + a.n) AS avgf
       |  FROM pre a JOIN pre b ON b.rn >= a.rn),
       |mm AS (SELECT i.rn AS i, s.ra, min(s.avgf) AS mn
       |  FROM pre i JOIN seg s ON s.ra <= i.rn AND s.rb >= i.rn
       |  GROUP BY i.rn, s.ra),
       |fit AS MATERIALIZED (
       |  SELECT i AS rn, CAST(max(mn) AS BIGINT) AS iso FROM mm GROUP BY i),
       |ch AS (SELECT score, CAST(count(*) AS BIGINT) AS c FROM ds GROUP BY score),
       |cb AS (SELECT ch.score, ch.c,
       |    coalesce((SELECT max(p.rn) FROM pre p WHERE p.score <= ch.score), 1)
       |      AS rn
       |  FROM ch),
       |cc AS MATERIALIZED (
       |  SELECT rn, CAST(sum(c) AS BIGINT) AS n_corpus FROM cb GROUP BY rn)
       |SELECT pre.rn AS bin_idx, pre.score AS score_half, pre.n AS n_cal,
       |  pre.np AS n_pos, pre.np * 1000000 // pre.n AS raw_ppm,
       |  fit.iso AS iso_ppm,
       |  coalesce(cc.n_corpus, 0) AS n_corpus,
       |  pre.np * (1000000 - pre.np * 1000000 // pre.n)
       |      * (1000000 - pre.np * 1000000 // pre.n)
       |    + (pre.n - pre.np) * (pre.np * 1000000 // pre.n)
       |      * (pre.np * 1000000 // pre.n) AS raw_sse_ppm2,
       |  pre.np * (1000000 - fit.iso) * (1000000 - fit.iso)
       |    + (pre.n - pre.np) * fit.iso * fit.iso AS iso_sse_ppm2
       |FROM pre JOIN fit USING (rn) LEFT JOIN cc USING (rn)
       |ORDER BY score_half""".stripMargin

  /** q339's oracle: q107's per-doc difficulty replay over documents ∪
    * the arithmetic-generated q337 plant texts, exact rank order, the
    * 10 sqrt-competence cuts (floor(sqrt(t·10¹¹)) — exact-integer sqrt
    * argument, IEEE-identical on both engines), phase assignment by
    * counting cuts below the rank, 10-row fold. */
  private def q339OracleSql: String =
    s"""WITH plants AS (
       |  SELECT CAST(-339001 AS BIGINT) AS doc_id,
       |    (SELECT string_agg('ze' || CAST(k % 4 AS VARCHAR), ' ' ORDER BY k)
       |     FROM generate_series(0, 399) t(k)) AS text
       |  UNION ALL SELECT -339003,
       |    (SELECT string_agg('zh' || CAST(CASE WHEN k % 2 = 0
       |        THEN (k // 2) % 60
       |        ELSE ((k // 2) % 60 + (k // 2) // 60 + 1) % 60 END AS VARCHAR),
       |      ' ' ORDER BY k)
       |     FROM generate_series(0, 7079) t(k))),
       |alld AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM plants),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM alld
       |      WHERE len(string_split(text, ' ')) >= 2),
       |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w),
       |g AS MATERIALIZED (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM x),
       |c2 AS MATERIALIZED (SELECT w1, w2, count(*) AS n12 FROM g GROUP BY w1, w2),
       |c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
       |d AS (SELECT c2.w1, c2.w2, n12 * 1000000 // n1 AS ppm
       |      FROM c2 JOIN c1 USING (w1)),
       |df AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |    1000000 - CAST(sum(ppm) AS BIGINT) // count(*) AS diff
       |  FROM g JOIN d USING (w1, w2) GROUP BY doc_id),
       |rk AS MATERIALIZED (SELECT *,
       |    CAST(row_number() OVER (ORDER BY diff, doc_id) AS BIGINT) AS rn
       |  FROM df),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
       |cuts AS MATERIALIZED (SELECT phase,
       |    CAST(floor(sqrt(CAST(phase * 100000000000 AS DOUBLE))) AS BIGINT)
       |      AS c_ppm,
       |    CAST(floor(sqrt(CAST(phase * 100000000000 AS DOUBLE))) AS BIGINT)
       |      * nn.n // 1000000 AS cut
       |  FROM (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
       |    AS phase) p, nn),
       |asg AS (SELECT rk.rn, rk.n_pairs, rk.diff,
       |    1 + (SELECT CAST(count(*) AS BIGINT) FROM cuts
       |      WHERE cuts.cut < rk.rn) AS phase
       |  FROM rk),
       |agg AS (SELECT phase, CAST(count(*) AS BIGINT) AS n_new,
       |    CAST(sum(n_pairs + 1) AS BIGINT) AS toks,
       |    CAST(sum(diff) AS BIGINT) AS sumd,
       |    CAST(max(diff) AS BIGINT) AS maxd
       |  FROM asg GROUP BY phase)
       |SELECT cuts.phase, cuts.c_ppm AS competence_ppm, cuts.cut AS cut_rank,
       |  coalesce(agg.n_new, 0) AS n_new,
       |  coalesce(agg.toks, 0) AS new_tokens,
       |  CASE WHEN agg.n_new IS NULL OR agg.n_new = 0 THEN 0
       |    ELSE agg.sumd // agg.n_new END AS mean_new_difficulty_ppm,
       |  coalesce(agg.maxd, 0) AS frontier_difficulty_ppm
       |FROM cuts LEFT JOIN agg USING (phase)
       |ORDER BY phase""".stripMargin

  /** q340's oracle: milli-quantized universe ∪ in-query twins/confusers,
    * label-blocked pair distances, hard and semi-hard argmin windows. */
  private def q340OracleSql: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |en AS MATERIALIZED (SELECT * FROM e
       |  WHERE list_sum(list_transform(q, x -> x * x)) > 0),
       |an AS MATERIALIZED (SELECT vec_id AS a_id, label, q AS aq FROM en
       |  WHERE vec_id % 10 = 3),
       |tw AS (SELECT -2000 - a_id AS vec_id, label,
       |    list_transform(aq, (x, i) -> CASE WHEN i = 1 THEN x + 1 ELSE x END)
       |      AS q
       |  FROM an),
       |cf AS (SELECT -3000 - a_id AS vec_id, label, aq AS q FROM an
       |  WHERE a_id % 20 = 3),
       |un AS MATERIALIZED (SELECT vec_id, label, q FROM en
       |  UNION ALL SELECT * FROM tw UNION ALL SELECT * FROM cf),
       |pr AS MATERIALIZED (SELECT an.a_id, un.vec_id,
       |    CAST(list_sum(list_transform(generate_series(1, len(un.q)),
       |      i -> (un.q[i] - an.aq[i]) * (un.q[i] - an.aq[i]))) AS BIGINT)
       |      AS d2
       |  FROM un JOIN an USING (label)
       |  WHERE un.vec_id <> an.a_id AND un.vec_id <> -2000 - an.a_id),
       |hd AS (SELECT a_id, vec_id AS hard_neg_id, d2 AS d2_hard FROM (
       |  SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY d2, vec_id)
       |    AS rk FROM pr) WHERE rk = 1),
       |sm AS (SELECT a_id, vec_id AS semi_neg_id, d2 AS d2_semi FROM (
       |  SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY d2, vec_id)
       |    AS rk FROM pr WHERE d2 > 1) WHERE rk = 1)
       |SELECT an.a_id AS anchor_id, an.label, -2000 - an.a_id AS pos_id,
       |  CAST(1 AS BIGINT) AS d2_pos, hd.hard_neg_id, hd.d2_hard,
       |  sm.semi_neg_id, sm.d2_semi,
       |  CASE WHEN hd.d2_hard > 1 THEN CAST(1 AS BIGINT) ELSE 0 END
       |    AS margin_ok
       |FROM an JOIN hd USING (a_id) JOIN sm USING (a_id)
       |ORDER BY anchor_id""".stripMargin

  /** q341's oracle, generated: rank-offset deterministic init, then
    * [[graft.ops.SimilarityOps.NndRounds]] NN-Descent local-join rounds
    * as chained CTEs (reverse view capped at k per node, pairs share a
    * common source, top-k merge per node), audited against the exact
    * top-k truth of the 10-node IVF query batch. */
  private def nndListD2(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"

  /** One full NN-Descent chain (rank-offset init + local-join rounds)
    * over the vector relation `eRel`, every CTE name prefixed with `p` —
    * q368 runs TWO chains in one query (the base-corpus build and the
    * full rebuild), q341/q347 use the unprefixed default over `e`. */
  private def nndChainBody(p: String, eRel: String): String = {
    val k = graft.ops.SimilarityOps.NndK
    val rounds = graft.ops.SimilarityOps.NndRounds
    def d2(a: String, b: String): String = nndListD2(a, b)
    val roundCtes = (1 to rounds).map { r =>
      s"""${p}rev$r AS (SELECT dst AS src, src AS dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY dst
         |      ORDER BY d2, src) AS rn FROM ${p}g${r - 1}) WHERE rn <= $k),
         |${p}und$r AS MATERIALIZED (SELECT src, dst FROM ${p}g${r - 1}
         |  UNION SELECT src, dst FROM ${p}rev$r),
         |${p}cnd$r AS MATERIALIZED (SELECT DISTINCT a.dst AS x, b.dst AS y
         |  FROM ${p}und$r a JOIN ${p}und$r b ON a.src = b.src AND a.dst < b.dst),
         |${p}new$r AS (SELECT p.src, p.dst, ${d2("sq.q", "dq.q")} AS d2
         |  FROM (SELECT x AS src, y AS dst FROM ${p}cnd$r
         |        UNION ALL SELECT y AS src, x AS dst FROM ${p}cnd$r) p
         |  JOIN $eRel sq ON sq.vec_id = p.src JOIN $eRel dq ON dq.vec_id = p.dst),
         |${p}g$r AS MATERIALIZED (SELECT src, dst, d2 FROM (
         |    SELECT src, dst, d2, row_number() OVER (PARTITION BY src
         |      ORDER BY d2, dst) AS rn FROM (
         |      SELECT src, dst, min(d2) AS d2 FROM (
         |        SELECT * FROM ${p}g${r - 1} UNION ALL SELECT * FROM ${p}new$r)
         |      GROUP BY src, dst)) WHERE rn <= $k)""".stripMargin
    }.mkString(",\n")
    s"""${p}nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $eRel),
       |${p}rkt AS MATERIALIZED (SELECT vec_id, q,
       |    row_number() OVER (ORDER BY vec_id) - 1 AS rk0 FROM $eRel),
       |${p}ini0 AS (SELECT a.vec_id AS src,
       |    (a.rk0 + 1 + ((a.vec_id * 2654435761 + (rr.r + 1) * 40503)
       |      % 1000003) % (${p}nn.n - 1)) % ${p}nn.n AS tgt0
       |  FROM ${p}rkt a CROSS JOIN generate_series(0, ${k - 1}) rr(r)
       |  CROSS JOIN ${p}nn),
       |${p}ini AS (SELECT DISTINCT i.src, t.vec_id AS dst
       |  FROM ${p}ini0 i JOIN ${p}rkt t ON t.rk0 = i.tgt0),
       |${p}g0 AS MATERIALIZED (SELECT src, dst, d2 FROM (
       |    SELECT src, dst, d2, row_number() OVER (PARTITION BY src
       |      ORDER BY d2, dst) AS rn FROM (
       |      SELECT i.src, i.dst, ${d2("sq.q", "dq.q")} AS d2
       |      FROM ${p}ini i JOIN $eRel sq ON sq.vec_id = i.src
       |      JOIN $eRel dq ON dq.vec_id = i.dst)) WHERE rn <= $k),
       |$roundCtes""".stripMargin
  }

  /** The NN-Descent chain CTEs shared by q341 (per-round audit) and
    * q347 (beam search over the final g<rounds>): e0/e/rkt/init plus
    * one local-join round per CTE block. */
  private def nndChainCtes: String =
    s"""e0 AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |e AS MATERIALIZED (SELECT * FROM e0
       |  WHERE list_sum(list_transform(q, x -> x * x)) > 0),
       |${nndChainBody("", "e")}""".stripMargin

  private def q341OracleSql: String = {
    val k = graft.ops.SimilarityOps.NndK
    val rounds = graft.ops.SimilarityOps.NndRounds
    val statRows = (0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS rnd,
         |  (SELECT CAST(count(*) AS BIGINT) FROM g$r) AS n_edges,
         |  (SELECT CAST(sum(d2) AS BIGINT) FROM g$r) AS sum_d2,
         |  (SELECT CAST(count(*) AS BIGINT) FROM g$r g
         |     JOIN tr ON g.src = tr.a_id AND g.dst = tr.dst) * 1000000
         |    // (SELECT n FROM ntr) AS recall_ppm""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH $nndChainCtes,
       |aud AS MATERIALIZED (SELECT vec_id AS a_id, q AS aq FROM e
       |  WHERE vec_id >= 8 AND vec_id < 18),
       |trd AS (SELECT a.a_id, x.vec_id, ${nndListD2("x.q", "a.aq")} AS d2
       |  FROM e x CROSS JOIN aud a WHERE x.vec_id <> a.a_id),
       |tr AS MATERIALIZED (SELECT a_id, vec_id AS dst FROM (
       |    SELECT a_id, vec_id, row_number() OVER (PARTITION BY a_id
       |      ORDER BY d2, vec_id) AS rn FROM trd) WHERE rn <= $k),
       |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr)
       |SELECT * FROM (
       |$statRows
       |) ORDER BY rnd""".stripMargin
  }

  /** q347's oracle, generated: the shared NN-Descent chain, then
    * [[graft.ops.SimilarityOps.BeamHops]] beam-search hops as chained
    * CTEs (frontier expand → score → visited dedup → top-B window) and
    * the exact-top-1 truth join. */
  private def q347OracleSql: String = {
    val rounds = graft.ops.SimilarityOps.NndRounds
    val b = graft.ops.SimilarityOps.BeamWidth
    val hops = graft.ops.SimilarityOps.BeamHops
    val hopCtes = (1 to hops).map { h =>
      s"""nb$h AS (SELECT DISTINCT bm.q_id, g.dst AS node
         |  FROM b${h - 1} bm JOIN g$rounds g ON g.src = bm.node
         |  WHERE g.dst <> bm.q_id),
         |sc$h AS (SELECT n.q_id, n.node, ${nndListD2("x.q", "a.aq")} AS d2
         |  FROM nb$h n JOIN e x ON x.vec_id = n.node
         |  JOIN aud a ON a.q_id = n.q_id),
         |v$h AS MATERIALIZED (SELECT q_id, node, min(d2) AS d2 FROM (
         |    SELECT * FROM v${h - 1} UNION ALL SELECT * FROM sc$h)
         |  GROUP BY q_id, node),
         |b$h AS MATERIALIZED (SELECT q_id, node, d2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY d2, node) AS rn FROM v$h) WHERE rn <= $b)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $nndChainCtes,
       |aud AS MATERIALIZED (SELECT vec_id AS q_id, q AS aq FROM e
       |  WHERE vec_id >= 8 AND vec_id < 18),
       |ent AS (SELECT min(vec_id) AS node FROM e),
       |v0 AS MATERIALIZED (SELECT a.q_id, ent.node,
       |    ${nndListD2("x.q", "a.aq")} AS d2
       |  FROM ent JOIN e x ON x.vec_id = ent.node CROSS JOIN aud a
       |  WHERE ent.node <> a.q_id),
       |b0 AS (SELECT * FROM v0),
       |$hopCtes,
       |bstat AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_visited,
       |    max(CASE WHEN rn = 1 THEN node END) AS best_id,
       |    max(CASE WHEN rn = 1 THEN d2 END) AS best_d2
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY d2, node) AS rn FROM v$hops) GROUP BY q_id),
       |ex AS (SELECT q_id, vec_id AS exact_id, d2 AS exact_d2 FROM (
       |    SELECT a.q_id, x.vec_id, ${nndListD2("x.q", "a.aq")} AS d2,
       |      row_number() OVER (PARTITION BY a.q_id
       |        ORDER BY ${nndListD2("x.q", "a.aq")}, x.vec_id) AS rn
       |    FROM e x CROSS JOIN aud a WHERE x.vec_id <> a.q_id)
       |  WHERE rn = 1)
       |SELECT b.q_id, b.n_visited, b.best_id, CAST(b.best_d2 AS BIGINT)
       |    AS best_d2, ex.exact_id, ex.exact_d2,
       |  CASE WHEN b.best_id = ex.exact_id THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS found,
       |  (b.best_d2 - ex.exact_d2) * 1000000 // ex.exact_d2 AS excess_ppm
       |FROM bstat b JOIN ex USING (q_id) ORDER BY q_id""".stripMargin
  }

  /** q368's oracle, generated: TWO NN-Descent chains (base corpus minus
    * the pmod-25 batch, prefixed `b`; the full rebuild, unprefixed),
    * q347's beam hops seeding each new vector over the base graph, the
    * reverse-attached top-k merge, two touched-source local rounds, and
    * per-stage edge/Σd²/recall stats against both exact truth legs. */
  private def q368OracleSql: String = {
    val k = graft.ops.SimilarityOps.NndK
    val rounds = graft.ops.SimilarityOps.NndRounds
    val b = graft.ops.SimilarityOps.BeamWidth
    val hops = graft.ops.SimilarityOps.BeamHops
    val localRounds = graft.ops.SimilarityOps.NndLocalRounds
    val bmod = graft.ops.SimilarityOps.NndBatchMod
    val bres = graft.ops.SimilarityOps.NndBatchRes
    val newAudit = graft.ops.SimilarityOps.NndNewAudit
    def d2(a: String, bb: String): String = nndListD2(a, bb)
    val hopCtes = (1 to hops).map { h =>
      s"""snb$h AS (SELECT DISTINCT bm.q_id, g.dst AS node
         |  FROM sb${h - 1} bm JOIN bg$rounds g ON g.src = bm.node),
         |ssc$h AS (SELECT n.q_id, n.node, ${d2("x.q", "w.q")} AS d2
         |  FROM snb$h n JOIN eb x ON x.vec_id = n.node
         |  JOIN nw w ON w.vec_id = n.q_id),
         |sv$h AS MATERIALIZED (SELECT q_id, node, min(d2) AS d2 FROM (
         |    SELECT * FROM sv${h - 1} UNION ALL SELECT * FROM ssc$h)
         |  GROUP BY q_id, node),
         |sb$h AS MATERIALIZED (SELECT q_id, node, d2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY d2, node) AS rn FROM sv$h) WHERE rn <= $b)"""
        .stripMargin
    }.mkString(",\n")
    def topkSql(srcRel: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT src, dst, d2 FROM (
         |    SELECT src, dst, d2, row_number() OVER (PARTITION BY src
         |      ORDER BY d2, dst) AS rn FROM (
         |      SELECT src, dst, min(d2) AS d2 FROM $srcRel
         |      GROUP BY src, dst)) WHERE rn <= $k)""".stripMargin
    val localCtes = (1 to localRounds).map { r =>
      s"""lrev$r AS (SELECT dst AS src, src AS dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY dst
         |      ORDER BY d2, src) AS rn FROM lg${r - 1}) WHERE rn <= $k),
         |lund$r AS (SELECT src, dst FROM lg${r - 1}
         |  UNION SELECT src, dst FROM lrev$r),
         |lut$r AS MATERIALIZED (SELECT u.src, u.dst
         |  FROM lund$r u JOIN tch ON u.src = tch.t),
         |lcnd$r AS MATERIALIZED (SELECT DISTINCT a.dst AS x, b.dst AS y
         |  FROM lut$r a JOIN lut$r b ON a.src = b.src AND a.dst < b.dst),
         |lnew$r AS (SELECT p.src, p.dst, ${d2("sq.q", "dq.q")} AS d2
         |  FROM (SELECT x AS src, y AS dst FROM lcnd$r
         |        UNION ALL SELECT y AS src, x AS dst FROM lcnd$r) p
         |  JOIN e sq ON sq.vec_id = p.src JOIN e dq ON dq.vec_id = p.dst),
         |${topkSql(s"(SELECT * FROM lg${r - 1} UNION ALL SELECT * FROM lnew$r)",
           s"lg$r")}""".stripMargin
    }.mkString(",\n")
    def statRow(stage: String, rel: String): String =
      s"""SELECT '$stage' AS stage,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $rel) AS n_edges,
         |  (SELECT CAST(sum(d2) AS BIGINT) FROM $rel) AS sum_d2,
         |  CASE WHEN (SELECT n FROM ntra) = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (SELECT CAST(count(*) AS BIGINT) FROM $rel g
         |     JOIN tra t ON g.src = t.a_id AND g.dst = t.dst) * 1000000
         |    // (SELECT n FROM ntra) END AS recall_audit_ppm,
         |  CASE WHEN (SELECT n FROM ntrn) = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (SELECT CAST(count(*) AS BIGINT) FROM $rel g
         |     JOIN trn t ON g.src = t.a_id AND g.dst = t.dst) * 1000000
         |    // (SELECT n FROM ntrn) END AS recall_new_ppm""".stripMargin
    val stageRows = (Seq(("1_base", s"bg$rounds"), ("2_seeded", "lg0")) ++
      (1 to localRounds).map(r => (s"${2 + r}_local$r", s"lg$r")) :+
      ("9_rebuild", s"g$rounds"))
      .map { case (st, rel) => statRow(st, rel) }
      .mkString("\nUNION ALL ")
    s"""WITH $nndChainCtes,
       |eb AS MATERIALIZED (SELECT * FROM e
       |  WHERE ((vec_id % $bmod) + $bmod) % $bmod <> $bres),
       |nw AS MATERIALIZED (SELECT vec_id, q FROM e
       |  WHERE ((vec_id % $bmod) + $bmod) % $bmod = $bres),
       |${nndChainBody("b", "eb")},
       |ent AS (SELECT min(vec_id) AS node FROM eb),
       |sv0 AS MATERIALIZED (SELECT w.vec_id AS q_id, ent.node,
       |    ${d2("x.q", "w.q")} AS d2
       |  FROM nw w CROSS JOIN ent JOIN eb x ON x.vec_id = ent.node),
       |sb0 AS (SELECT * FROM sv0),
       |$hopCtes,
       |${topkSql(
         s"""(SELECT src, dst, d2 FROM bg$rounds
            |        UNION ALL SELECT q_id AS src, node AS dst, d2 FROM sb$hops
            |        UNION ALL SELECT node AS src, q_id AS dst, d2 FROM sb$hops)"""
           .stripMargin, "lg0")},
       |tch AS MATERIALIZED (SELECT DISTINCT t FROM (
       |  SELECT q_id AS t FROM sb$hops
       |  UNION ALL SELECT node AS t FROM sb$hops)),
       |$localCtes,
       |aud AS MATERIALIZED (SELECT vec_id AS a_id, q AS aq FROM e
       |  WHERE vec_id >= 8 AND vec_id < 18),
       |naud AS MATERIALIZED (SELECT vec_id AS a_id, q AS aq FROM nw
       |  ORDER BY vec_id LIMIT $newAudit),
       |tra AS MATERIALIZED (SELECT a_id, vec_id AS dst FROM (
       |    SELECT a.a_id, x.vec_id, row_number() OVER (PARTITION BY a.a_id
       |      ORDER BY ${d2("x.q", "a.aq")}, x.vec_id) AS rn
       |    FROM e x CROSS JOIN aud a WHERE x.vec_id <> a.a_id)
       |  WHERE rn <= $k),
       |ntra AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tra),
       |trn AS MATERIALIZED (SELECT a_id, vec_id AS dst FROM (
       |    SELECT a.a_id, x.vec_id, row_number() OVER (PARTITION BY a.a_id
       |      ORDER BY ${d2("x.q", "a.aq")}, x.vec_id) AS rn
       |    FROM e x CROSS JOIN naud a WHERE x.vec_id <> a.a_id)
       |  WHERE rn <= $k),
       |ntrn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM trn)
       |SELECT * FROM (
       |$stageRows
       |) ORDER BY stage""".stripMargin
  }

  /** q342's oracle, generated: the SAME driver-computed ±1 sign matrix
    * as a 16×64 literal, list-lambda projections, shared-window recall
    * and the exact-div distortion quantiles. */
  private def q342OracleSql: String = {
    val m = graft.ops.SimilarityOps.JlDims
    val signLit = (0 until m).map { i =>
      (0 until 64).map(j => graft.ops.SimilarityOps.jlSign(i, j).toString)
        .mkString("[", ", ", "]")
    }.mkString("[\n    ", ",\n    ", "]")
    def d2(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
    s"""WITH sgt AS (SELECT $signLit AS sg),
       |e0 AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |e1 AS (SELECT * FROM e0
       |  WHERE list_sum(list_transform(q, x -> x * x)) > 0),
       |pe AS MATERIALIZED (SELECT vec_id, q,
       |    list_transform(generate_series(1, $m), i ->
       |      CAST(list_sum(list_transform(generate_series(1, 64),
       |        j -> sg[i][j] * q[j])) AS BIGINT)) AS p
       |  FROM e1 CROSS JOIN sgt),
       |aud AS MATERIALIZED (SELECT vec_id AS q_id, q AS aq, p AS ap
       |  FROM pe WHERE vec_id >= 8 AND vec_id < 18),
       |pr AS MATERIALIZED (SELECT a.q_id, x.vec_id,
       |    ${d2("x.q", "a.aq")} AS d2x, ${d2("x.p", "a.ap")} AS d2p
       |  FROM pe x CROSS JOIN aud a WHERE x.vec_id <> a.q_id),
       |rk AS (SELECT q_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2x, vec_id) AS rkx,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2p, vec_id) AS rkp
       |  FROM pr),
       |rc AS (SELECT q_id, CAST(sum(CASE WHEN rkx <= 10 AND rkp <= 10
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits FROM rk GROUP BY q_id),
       |fr AS (SELECT q_id, vec_id,
       |    d2p * 1000000 // (d2x * $m) AS ratio_ppm,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY d2p * 1000000 // (d2x * $m), vec_id) AS rn,
       |    count(*) OVER (PARTITION BY q_id) AS cnt
       |  FROM pr WHERE d2x > 0),
       |st AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(min(ratio_ppm) AS BIGINT) AS min_ratio_ppm,
       |    CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN ratio_ppm END)
       |      AS BIGINT) AS med_ratio_ppm,
       |    CAST(max(ratio_ppm) AS BIGINT) AS max_ratio_ppm
       |  FROM fr GROUP BY q_id)
       |SELECT st.q_id, st.n_pairs, rc.n_hits * 100000 AS recall10_ppm,
       |  st.min_ratio_ppm, st.med_ratio_ppm, st.max_ratio_ppm
       |FROM st JOIN rc USING (q_id) ORDER BY q_id""".stripMargin
  }

  /** q383's oracle: the same 64-row SplitMix64 sign matrix embedded as a
    * literal, milli quantization, per-half bit packing, Hamming via
    * xor+bit_count (the identical packed-code mechanics, not a
    * re-derivation), exact integer d², both rank windows and the
    * monotone candidate-hit sums. */
  private def q383OracleSql: String = {
    val signLit = (0 until 64).map { i =>
      (0 until 64).map(j => graft.ops.SimilarityOps.jlSign(i, j).toString)
        .mkString("[", ", ", "]")
    }.mkString("[\n    ", ",\n    ", "]")
    def packHalf(lo: Int): String =
      s"""CAST(list_sum(list_transform(generate_series(${lo + 1}, ${lo + 32}),
         |      i -> CASE WHEN list_sum(list_transform(generate_series(1, 64),
         |          j -> sg[i][j] * q[j])) > 0
         |        THEN CAST(1 AS BIGINT) << (i - ${lo + 1}) ELSE 0 END))
         |    AS BIGINT)""".stripMargin
    s"""WITH sgt AS (SELECT $signLit AS sg),
       |e0 AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |e1 AS (SELECT * FROM e0
       |  WHERE list_sum(list_transform(q, x -> x * x)) > 0),
       |cd AS MATERIALIZED (SELECT vec_id, q,
       |    ${packHalf(0)} AS h1,
       |    ${packHalf(32)} AS h2
       |  FROM e1 CROSS JOIN sgt),
       |aud AS MATERIALIZED (SELECT vec_id AS q_id, q AS aq,
       |    h1 AS qh1, h2 AS qh2
       |  FROM cd WHERE vec_id >= 8 AND vec_id < 18),
       |pr AS MATERIALIZED (SELECT a.q_id, x.vec_id,
       |    CAST(bit_count(xor(x.h1, a.qh1)) + bit_count(xor(x.h2, a.qh2))
       |      AS BIGINT) AS ham,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      j -> (x.q[j] - a.aq[j]) * (x.q[j] - a.aq[j]))) AS BIGINT) AS d2
       |  FROM cd x CROSS JOIN aud a WHERE x.vec_id >= 18),
       |rk AS (SELECT q_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rkt,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS rkh
       |  FROM pr),
       |pq AS MATERIALIZED (SELECT q_id,
       |    CAST(sum(CASE WHEN rkt <= 5 AND rkh <= 5 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS h5,
       |    CAST(sum(CASE WHEN rkt <= 5 AND rkh <= 8 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c8,
       |    CAST(sum(CASE WHEN rkt <= 5 AND rkh <= 32 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c32
       |  FROM rk GROUP BY q_id),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nq,
       |    CAST(sum(h5) AS BIGINT) AS th5, CAST(sum(c8) AS BIGINT) AS tc8,
       |    CAST(sum(c32) AS BIGINT) AS tc32
       |  FROM pq)
       |SELECT * FROM (
       |SELECT 'q:' || CAST(q_id AS VARCHAR) AS scope, h5 AS hits_ham5,
       |  c8 AS hits_c8, c32 AS hits_c32, h5 * 200000 AS ham5_ppm,
       |  c8 * 200000 AS c8_ppm, c32 * 200000 AS c32_ppm FROM pq
       |UNION ALL SELECT 'z_total', th5, tc8, tc32,
       |  th5 * 1000000 // (5 * nq), tc8 * 1000000 // (5 * nq),
       |  tc32 * 1000000 // (5 * nq) FROM tot)
       |ORDER BY scope""".stripMargin
  }

  /** q343's oracle: FpByteFold shuffle keys, one rank window per order,
    * batch-chunk folds and the exact-div waste roll-up. */
  private def q343OracleSql: String = {
    val b = graft.ops.CorpusOps.PadBatch
    def roll(name: String, src: String): String =
      s"""SELECT '$name' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
         |    CAST(sum(sm) AS BIGINT) AS real_tokens,
         |    CAST(sum(mx * nd) AS BIGINT) AS padded_tokens
         |  FROM (SELECT (rk - 1) // $b AS batch, CAST(count(*) AS BIGINT)
         |      AS nd, max(n_tok) AS mx, sum(n_tok) AS sm
         |    FROM $src GROUP BY 1)""".stripMargin
    s"""WITH d AS MATERIALIZED (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split('bat:' || CAST(doc_id AS VARCHAR)
       |        || ':' || CAST((doc_id % 1000003) * (doc_id % 1000003)
       |        AS VARCHAR), ''), c -> CAST(ascii(c) AS BIGINT))),
       |      $FpByteFold) AS sk
       |  FROM documents),
       |ra AS (SELECT n_tok, row_number() OVER (ORDER BY sk, doc_id) AS rk
       |  FROM d),
       |rb AS (SELECT n_tok, row_number() OVER (ORDER BY n_tok DESC, doc_id)
       |  AS rk FROM d),
       |wa AS (${roll("arrival", "ra")}),
       |wb AS (${roll("sorted_desc", "rb")})
       |SELECT strategy, n_batches, real_tokens, padded_tokens,
       |  (padded_tokens - real_tokens) * 1000000 // padded_tokens
       |    AS waste_ppm
       |FROM (SELECT * FROM wa UNION ALL SELECT * FROM wb)
       |ORDER BY strategy""".stripMargin
  }

  /** q344's oracle, generated: the replicate axis explodes via
    * generate_series (the one-scan Spark side folds 2R+2 columns
    * instead), FpByteFold weight hashes, HUGEINT means, order-statistic
    * rows by rank window. */
  private def q344OracleSql: String = {
    val r = graft.ops.PipelineOps.BootReps
    s"""WITH o AS MATERIALIZED (SELECT o_orderkey AS k,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders),
       |reps AS (SELECT unnest(generate_series(0, ${r - 1})) AS rep),
       |hs AS (SELECT rep, x,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split('boot:' || CAST(k AS VARCHAR)
       |        || ':' || CAST(rep AS VARCHAR) || ':'
       |        || CAST((k % 1000003) * (k % 1000003) AS VARCHAR), ''),
       |        c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS h
       |  FROM o CROSS JOIN reps),
       |ws AS (SELECT rep, x,
       |    (CASE WHEN h % 4 = 0 THEN 1 ELSE 0 END)
       |    + (CASE WHEN (h // 4) % 4 = 0 THEN 1 ELSE 0 END)
       |    + (CASE WHEN (h // 16) % 4 = 0 THEN 1 ELSE 0 END)
       |    + (CASE WHEN (h // 64) % 4 = 0 THEN 1 ELSE 0 END) AS w
       |  FROM hs),
       |pr AS (SELECT rep, CAST(sum(w) AS BIGINT) AS w_count,
       |    CAST(sum(w * x) AS BIGINT) AS w_sum_cents FROM ws GROUP BY rep),
       |pm AS MATERIALIZED (SELECT rep, w_count, w_sum_cents,
       |    CASE WHEN w_count = 0 THEN CAST(0 AS BIGINT) ELSE
       |    CAST(CAST(w_sum_cents AS HUGEINT) * 1000000 // w_count AS BIGINT)
       |    END AS mean_microcents FROM pr),
       |rkd AS MATERIALIZED (SELECT *,
       |    row_number() OVER (ORDER BY mean_microcents, rep) AS rk FROM pm),
       |pt AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx FROM o)
       |SELECT rep, w_count, w_sum_cents, mean_microcents FROM pm
       |UNION ALL SELECT CAST(97 AS BIGINT), n, sx,
       |  CAST(CAST(sx AS HUGEINT) * 1000000 // n AS BIGINT) FROM pt
       |UNION ALL SELECT CAST(98 AS BIGINT), w_count, w_sum_cents,
       |  mean_microcents FROM rkd WHERE rk = 2
       |UNION ALL SELECT CAST(99 AS BIGINT), w_count, w_sum_cents,
       |  mean_microcents FROM rkd WHERE rk = ${r - 1}
       |ORDER BY rep""".stripMargin
  }

  /** q345's oracle, generated: the q106 Lloyd's chain keeping (q, cid,
    * d), FpByteFold shuffle keys, one rank window per ordering, and the
    * rn→rn+1 adjacent-pair folds. */
  private def q345OracleSql: String = {
    def assignBlock(out: String, cents: String) =
      s"""$out AS MATERIALIZED (SELECT vec_id, q, cid, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
         |      SELECT e.vec_id, e.q, c.cid,
         |        list_sum(list_transform(generate_series(1, len(e.q)),
         |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
         |      FROM e CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin
    def updateBlock(k: Int) =
      s"""x$k AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a$k),
         |s$k AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
         |       FROM x$k GROUP BY cid, i),
         |u$k AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
         |       FROM s$k GROUP BY cid),
         |c$k AS (SELECT c${k - 1}.cid, coalesce(u$k.c, c${k - 1}.c) AS c
         |       FROM c${k - 1} LEFT JOIN u$k USING (cid))""".stripMargin
    def pairFold(name: String, src: String) =
      s"""SELECT '$name' AS ordering, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(d2) AS BIGINT) AS sum_adj_d2,
         |    CAST(sum(same) AS BIGINT) AS n_same_cluster
         |  FROM (SELECT list_sum(list_transform(generate_series(1, len(a.q)),
         |        i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS d2,
         |      CASE WHEN a.cid = b.cid THEN 1 ELSE 0 END AS same
         |    FROM $src a JOIN $src b ON b.rn = a.rn + 1)""".stripMargin
    s"""WITH e AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
       |       FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 8)),
       |${assignBlock("a1", "c0")},
       |${updateBlock(1)},
       |${assignBlock("a2", "c1")},
       |${updateBlock(2)},
       |${assignBlock("a3", "c2")},
       |kb AS MATERIALIZED (SELECT vec_id, q, cid, d,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split('icp:' || CAST(vec_id AS VARCHAR)
       |        || ':' || CAST((vec_id % 1000003) * (vec_id % 1000003)
       |        AS VARCHAR), ''), c -> CAST(ascii(c) AS BIGINT))),
       |      $FpByteFold) AS sk
       |  FROM a3),
       |rc AS MATERIALIZED (SELECT vec_id, q, cid,
       |    row_number() OVER (ORDER BY cid, d, vec_id) AS rn FROM kb),
       |rs AS MATERIALIZED (SELECT vec_id, q, cid,
       |    row_number() OVER (ORDER BY sk, vec_id) AS rn FROM kb),
       |mc AS (${pairFold("clustered", "rc")}),
       |ms AS (${pairFold("shuffled", "rs")})
       |SELECT ordering, n_pairs, sum_adj_d2,
       |  sum_adj_d2 // n_pairs AS mean_adj_d2, n_same_cluster
       |FROM (SELECT * FROM mc UNION ALL SELECT * FROM ms)
       |ORDER BY ordering""".stripMargin
  }

  /** q346's oracle: per-customer pre/post folds ∪ the arithmetic plant,
    * FpByteFold middle-square arms, HUGEINT cleared-denominator moments
    * and the θppm-first ρ² factoring (Sxy² would overflow 128 bits). */
  private def q346OracleSql: String =
    s"""WITH osum AS (SELECT o_custkey AS k,
       |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN
       |      CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN
       |      CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |corpus AS (SELECT 'corpus' AS scope, CAST(c_custkey AS BIGINT) AS k,
       |    coalesce(x, 0) AS x, coalesce(y, 0) AS base_y, 0 AS boost
       |  FROM customer LEFT JOIN osum ON c_custkey = osum.k),
       |plant AS (SELECT 'plant' AS scope, -i AS k,
       |    (i * i % 9973) * 1000 AS x,
       |    2 * ((i * i % 9973) * 1000) + (i * i * i % 101 - 50) * 100 AS base_y,
       |    5000000 AS boost
       |  FROM generate_series(1, 200) t(i)),
       |armed AS MATERIALIZED (SELECT scope, arm, x,
       |    base_y + CASE WHEN arm = 1 THEN boost ELSE 0 END AS y
       |  FROM (SELECT *, (fp * fp // 65536) % 2 AS arm FROM (
       |    SELECT *, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split('cuped:' || CAST(k AS VARCHAR), ''),
       |        c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS fp
       |    FROM (SELECT * FROM corpus UNION ALL SELECT * FROM plant)))),
       |m AS MATERIALIZED (SELECT scope, arm, CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx,
       |    sum(CAST(y AS HUGEINT) * y) AS syy
       |  FROM armed GROUP BY scope, arm),
       |p AS (SELECT scope, sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
       |    sum(sxy) AS sxy, sum(sxx) AS sxx, sum(syy) AS syy
       |  FROM m GROUP BY scope),
       |t AS MATERIALIZED (SELECT scope,
       |    1000000 * (n * sxy - sx * sy) // (n * sxx - sx * sx) AS theta_ppm,
       |    (1000000 * (n * sxy - sx * sy) // (n * sxx - sx * sx))
       |      * (n * sxy - sx * sy) // (n * syy - sy * sy) AS varred_ppm,
       |    1000000 * sx // n AS mx
       |  FROM p)
       |SELECT m.scope, CASE WHEN m.arm = 0 THEN 'a' ELSE 'b' END AS arm,
       |  CAST(m.n AS BIGINT) AS n,
       |  CAST(1000000 * m.sx // m.n AS BIGINT) AS mean_x_microcents,
       |  CAST(1000000 * m.sy // m.n AS BIGINT) AS mean_y_microcents,
       |  CAST(1000000 * m.sy // m.n
       |    - t.theta_ppm * (1000000 * m.sx // m.n - t.mx) // 1000000
       |    AS BIGINT) AS adj_mean_y_microcents,
       |  CAST(t.theta_ppm AS BIGINT) AS theta_ppm,
       |  CAST(t.varred_ppm AS BIGINT) AS varred_ppm
       |FROM m JOIN t USING (scope) ORDER BY scope, arm""".stripMargin

  /** q348's oracle, generated: the spike-planted universe, HUGEINT
    * scatter matrix via a self-joined unnest, 8 chained matvec+rescale
    * CTEs (truncating division matches BigInt), and the two-step-floor
    * Rayleigh share. */
  private def q348OracleSql: String = {
    val iters = graft.ops.SimilarityOps.AbttIters
    val iterCtes = (1 to iters).map { t =>
      s"""w$t AS (SELECT m.i, sum(m.m * v.val) AS w
         |  FROM mr m JOIN v${t - 1} v ON v.i = m.j GROUP BY m.i),
         |x$t AS (SELECT max(abs(w)) AS mx FROM w$t),
         |v$t AS MATERIALIZED (SELECT i, w * 1000000 // mx AS val
         |  FROM w$t CROSS JOIN x$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH eu AS MATERIALIZED (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings
       |  UNION ALL
       |  SELECT -i, list_transform(generate_series(1, 64),
       |    j -> CASE WHEN j = 8 THEN
       |      (CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END)
       |        * CAST(15000 + i * 10 AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END)
       |  FROM generate_series(1, 50) t(i)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM eu),
       |li AS MATERIALIZED (SELECT vec_id,
       |    unnest(generate_series(1, 64)) AS i, unnest(q) AS x FROM eu),
       |sx AS MATERIALIZED (SELECT i, CAST(sum(x) AS BIGINT) AS sx
       |  FROM li GROUP BY i),
       |sxx AS (SELECT a.i AS i, b.i AS j,
       |    CAST(sum(a.x * b.x) AS BIGINT) AS sr
       |  FROM li a JOIN li b USING (vec_id) GROUP BY a.i, b.i),
       |mr AS MATERIALIZED (SELECT sxx.i, sxx.j,
       |    CAST(nn.n AS HUGEINT) * sr - CAST(sa.sx AS HUGEINT) * sb.sx AS m
       |  FROM sxx CROSS JOIN nn JOIN sx sa ON sa.i = sxx.i
       |  JOIN sx sb ON sb.i = sxx.j),
       |jm AS (SELECT i FROM mr WHERE i = j ORDER BY m DESC, i LIMIT 1),
       |v0 AS (SELECT sx.i, CASE WHEN sx.i = jm.i
       |    THEN CAST(1000000 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS val
       |  FROM sx CROSS JOIN jm),
       |$iterCtes,
       |vt AS MATERIALIZED (SELECT * FROM v$iters),
       |sxv AS (SELECT CAST(sum(sx.sx * vt.val) AS HUGEINT) AS sv
       |  FROM sx JOIN vt ON vt.i = sx.i),
       |pv AS MATERIALIZED (SELECT li.vec_id,
       |    CAST(sum(li.x * vt.val) AS HUGEINT) AS dv,
       |    CAST(sum((nn.n * li.x - sx.sx) * (nn.n * li.x - sx.sx))
       |      AS HUGEINT) AS yy
       |  FROM li JOIN vt ON vt.i = li.i JOIN sx ON sx.i = li.i
       |  CROSS JOIN nn GROUP BY li.vec_id),
       |ag AS (SELECT
       |    sum((nn.n * pv.dv - sxv.sv) * (nn.n * pv.dv - sxv.sv)) AS sp2,
       |    sum(pv.yy) AS syy
       |  FROM pv CROSS JOIN sxv CROSS JOIN nn),
       |vvt AS (SELECT sum(val * val) AS vv FROM vt)
       |SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n,
       |  (SELECT CAST(i AS BIGINT) FROM vt ORDER BY abs(val) DESC, i
       |    LIMIT 1) AS top_dim,
       |  CAST((ag.sp2 // vvt.vv) * 1000000 // ag.syy AS BIGINT)
       |    AS share_top_ppm,
       |  CAST(((ag.sp2 // vvt.vv) * 1000000 // ag.syy) * 64 AS BIGINT)
       |    AS iso_x_ppm
       |FROM ag CROSS JOIN vvt""".stripMargin
  }

  /** q349's oracle, generated: q253's anchor/key/LCP replay extended
    * with span POSITIONS, the q138 running-max interval union (windows,
    * never a struct-state list fold), ordered segment re-assembly via
    * string_agg, and md5 of the stripped text. */
  private def q349OracleSql: String = {
    import graft.ops.DedupOps.{SfxCtx, SfxKey, SfxKeyCap, SfxMinSpan, SfxMod, SfxWin}
    def lcpCase(a: String, b: String): String =
      s"""(CASE WHEN least(length($a), length($b)) = 0 THEN 0
         |  WHEN list_position(list_transform(
         |      generate_series(1, least(length($a), length($b))),
         |      i -> substr($a, i, 1) = substr($b, i, 1)), false) = 0
         |    THEN least(length($a), length($b))
         |  ELSE list_position(list_transform(
         |      generate_series(1, least(length($a), length($b))),
         |      i -> substr($a, i, 1) = substr($b, i, 1)), false) - 1 END)"""
        .stripMargin
    val plants = graft.ops.DedupOps.SuffixPlant
      .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
      .mkString(",\n          ")
    raw"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, regexp_replace(coalesce(text, ''), ' {2,}', ' ', 'g') AS na
       |  FROM (SELECT doc_id, text FROM documents
       |        UNION ALL SELECT * FROM (VALUES $plants) v(doc_id, text))),
       |an AS MATERIALIZED (
       |  SELECT doc_id, p,
       |    substr(na, p, $SfxKey) AS key,
       |    reverse(substr(na, greatest(1, p - $SfxWin),
       |                   p - greatest(1, p - $SfxWin))) AS bck,
       |    substr(na, p, $SfxWin) AS fwd
       |  FROM (SELECT doc_id, na,
       |          unnest(generate_series(1,
       |            greatest(length(na) - ${SfxKey - 1}, 0))) AS p
       |        FROM base)
       |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
       |      string_split(substr(na, p, $SfxCtx), ''),
       |      c -> CAST(ascii(c) AS BIGINT))),
       |    $FpByteFold) % $SfxMod = 0),
       |k2 AS MATERIALIZED (
       |  SELECT key FROM (SELECT key, count(DISTINCT doc_id) AS nd
       |                   FROM an GROUP BY key)
       |  WHERE nd >= 2 AND nd <= $SfxKeyCap),
       |cand AS (
       |  SELECT b.doc_id AS doc_id, b.p AS pb,
       |         a.bck AS ba, a.fwd AS fa, b.bck AS bb, b.fwd AS fb
       |  FROM an a JOIN k2 USING (key) JOIN an b USING (key)
       |  WHERE a.doc_id < b.doc_id),
       |ext AS (SELECT doc_id, pb,
       |    ${lcpCase("ba", "bb")} AS lb,
       |    ${lcpCase("fa", "fb")} AS lf
       |  FROM cand),
       |sp AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    CAST(pb - lb AS BIGINT) AS st, CAST(pb + lf AS BIGINT) AS en
       |  FROM ext WHERE lb + lf >= $SfxMinSpan),
       |isl AS MATERIALIZED (SELECT doc_id, island,
       |    min(st) AS ist, max(en) AS ien
       |  FROM (SELECT *, sum(new_i) OVER (PARTITION BY doc_id
       |      ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      CURRENT ROW) AS island
       |    FROM (SELECT *, CASE WHEN max(en) OVER (PARTITION BY doc_id
       |          ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND
       |          1 PRECEDING) IS NULL
       |        OR st > max(en) OVER (PARTITION BY doc_id ORDER BY st, en
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |        THEN 1 ELSE 0 END AS new_i
       |      FROM sp))
       |  GROUP BY doc_id, island),
       |sg AS (SELECT isl.doc_id, ist, ien,
       |    lag(ien, 1, CAST(1 AS BIGINT)) OVER (PARTITION BY isl.doc_id
       |      ORDER BY ist) AS prev_ien,
       |    base.na
       |  FROM isl JOIN base USING (doc_id)),
       |fin AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
       |    CAST(sum(ien - ist) AS BIGINT) AS chars_flagged,
       |    CAST(max(length(na)) AS BIGINT) AS n_chars,
       |    string_agg(substr(na, CAST(prev_ien AS INT),
       |      CAST(ist - prev_ien AS INT)), '' ORDER BY ist) AS head_segs,
       |    max(na) AS na_m, max(ien) AS last_en
       |  FROM sg GROUP BY doc_id)
       |SELECT doc_id, n_islands, chars_flagged, n_chars,
       |  (n_chars - chars_flagged) * 1000000 // n_chars AS keep_ppm,
       |  md5(head_segs || substr(na_m, CAST(last_en AS INT)))
       |    AS stripped_md5
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** q350's oracle: vocabulary fold + LIMIT k+1 order statistics, the
    * half-bit bin(n²) logs and the integer-ln2 α̂ on both scopes. */
  private def q350OracleSql: String = {
    val k = graft.ops.CorpusOps.HillK
    def alpha(src: String): String =
      s"""(SELECT CAST(min(n) AS BIGINT) AS cut_freq,
         |   CAST(sum(hb) - ${k + 1} * min(hb) AS BIGINT) AS sum_delta_hb,
         |   CAST(CASE WHEN sum(hb) - ${k + 1} * min(hb) = 0 THEN 0
         |     ELSE 2 * $k * 1000000000000
         |       // (693147 * (sum(hb) - ${k + 1} * min(hb))) END AS BIGINT)
         |     AS alpha_ppm
         | FROM $src)""".stripMargin
    s"""WITH vocab AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT ws[i] || ' ' || ws[i + 1] AS w FROM (
       |      SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |      FROM (SELECT string_split(text, ' ') AS ws FROM documents)))
       |  GROUP BY w),
       |ct AS (SELECT n, CAST(length(bin(n * n)) - 1 AS BIGINT) AS hb
       |  FROM vocab ORDER BY n DESC, w ASC LIMIT ${k + 1}),
       |pt AS (SELECT n, CAST(length(bin(n * n)) - 1 AS BIGINT) AS hb
       |  FROM (SELECT 1000000000 // i AS n FROM generate_series(1, 1000) t(i))
       |  ORDER BY n DESC LIMIT ${k + 1}),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM vocab),
       |ca AS ${alpha("ct")},
       |pa AS ${alpha("pt")}
       |SELECT scope, k, n_types, cut_freq, sum_delta_hb, alpha_ppm FROM (
       |  SELECT 'corpus' AS scope, CAST($k AS BIGINT) AS k, nt.n_types,
       |    ca.cut_freq, ca.sum_delta_hb, ca.alpha_ppm FROM ca CROSS JOIN nt
       |  UNION ALL
       |  SELECT 'plant', CAST($k AS BIGINT), CAST(1000 AS BIGINT),
       |    pa.cut_freq, pa.sum_delta_hb, pa.alpha_ppm FROM pa)
       |ORDER BY scope""".stripMargin
  }

  /** q352's oracle: q302's daily frame, three series, the O(days²)
    * pairwise sign self-join, tie correction and the exact-div z². */
  private def q352OracleSql: String =
    """WITH d AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT)
      |    AS day, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
      |r AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY day)
      |    AS BIGINT) AS i, n FROM d),
      |ser AS MATERIALIZED (
      |  SELECT '1_null' AS series, i, n AS x FROM r
      |  UNION ALL SELECT '2_trend', i, n + 4 * i FROM r
      |  UNION ALL SELECT '3_trend_spiked', i,
      |    CASE WHEN i = 10 THEN (n + 4 * i) * 10 ELSE n + 4 * i END FROM r),
      |s AS (SELECT a.series, CAST(sum(CASE WHEN b.x > a.x THEN 1
      |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM ser a JOIN ser b ON a.series = b.series AND b.i > a.i
      |  GROUP BY a.series),
      |tt AS (SELECT series,
      |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS ties
      |  FROM (SELECT series, x, CAST(count(*) AS BIGINT) AS t
      |        FROM ser GROUP BY series, x)
      |  WHERE t > 1 GROUP BY series),
      |nn AS (SELECT series, CAST(count(*) AS BIGINT) AS n
      |  FROM ser GROUP BY series),
      |fin AS (SELECT nn.series, nn.n, s.s_stat,
      |    nn.n * (nn.n - 1) * (2 * nn.n + 5) - coalesce(tt.ties, 0)
      |      AS denom
      |  FROM nn JOIN s USING (series) LEFT JOIN tt USING (series)),
      |z AS (SELECT series, n, s_stat, denom,
      |    CASE WHEN s_stat = 0 OR denom = 0 THEN 0
      |      ELSE 18000 * (abs(s_stat) - 1) * (abs(s_stat) - 1) // denom
      |      END AS z2_milli
      |  FROM fin)
      |SELECT series, n AS n_days, s_stat,
      |  CAST(denom AS BIGINT) AS var_denom18,
      |  CAST(z2_milli AS BIGINT) AS z2_milli,
      |  CAST(CASE WHEN z2_milli > 3841 THEN 1 ELSE 0 END AS BIGINT)
      |    AS significant
      |FROM z ORDER BY series""".stripMargin

  /** q335's oracle: the SAME generated learn chain trained on the even
    * pmod-half of documents ∪ Q335Plant, plus a parallel h0→h30 holdout
    * APPLY chain — h0 is the char symbolization of the odd-half word
    * types and each round re-applies the learned b$k merge via the
    * shared greedy block (sequential rank-order application ≡ the
    * published lowest-rank-first encode; see bpeEncodeExpr's scaladoc).
    * The report folds the odd-half word stream over the h30 token
    * counts, with OOV = type absent from the trainer's w0. */
  private def q335OracleSql: String = {
    val n = 30
    val plantRows = graft.ops.TextOps.Q335Plant.map {
      case (id, t, l, src) => s"(CAST($id AS BIGINT), '$t', '$l', '$src')"
    }.mkString(",\n    ")
    val holdRounds = (1 to n).map { k =>
      bpeApplyBlockSql(s"h${k - 1}", s"b$k", s"hm$k", s"h$k")
    }.mkString(",\n")
    s"""WITH alldocs AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM (VALUES
       |    $plantRows) pl(doc_id, text, lang, source)),
       |traindocs AS (SELECT text FROM alldocs
       |  WHERE ((doc_id % 2) + 2) % 2 = 0),
       |${bpeChainSql(n, "traindocs")},
       |hw AS MATERIALIZED (
       |  SELECT w AS word, CAST(1 AS BIGINT) AS c
       |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
       |    FROM alldocs WHERE ((doc_id % 2) + 2) % 2 = 1)
       |  WHERE len(w) > 0),
       |h0 AS MATERIALIZED (
       |  SELECT word, c,
       |    CAST(unnest(generate_series(1, length(word))) AS BIGINT) AS pos,
       |    unnest(string_split(word, '')) AS sym
       |  FROM hw),
       |$holdRounds,
       |tok AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n_tok
       |  FROM h$n GROUP BY word),
       |wd AS (SELECT d.lang, d.source,
       |    unnest(list_filter(string_split(d.text, ' '), x -> x <> '')) AS word
       |  FROM (SELECT lang, source, text FROM documents
       |      WHERE ((doc_id % 2) + 2) % 2 = 1
       |    UNION ALL SELECT lang, source, text FROM (VALUES
       |      $plantRows) pl2(doc_id, text, lang, source)
       |      WHERE ((doc_id % 2) + 2) % 2 = 1) d)
       |SELECT wd.lang, wd.source,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(CASE WHEN w0.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov_words,
       |  CAST(sum(tok.n_tok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(length(wd.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(tok.n_tok) AS BIGINT) * 1000000
       |    // CAST(count(*) AS BIGINT) AS fertility_ppm,
       |  CAST(sum(CASE WHEN w0.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000 // CAST(count(*) AS BIGINT) AS oov_ppm,
       |  CAST(sum(length(wd.word)) AS BIGINT) * 1000000
       |    // CAST(sum(tok.n_tok) AS BIGINT) AS chars_per_token_ppm
       |FROM wd JOIN tok USING (word) LEFT JOIN w0 ON wd.word = w0.word
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q336's oracle: four generated q106-style Lloyd's chains over the
    * 16-dim subspace slices of the twin-augmented PQ corpus (init = 8
    * lowest vec_ids, two exact integer update rounds, final assign),
    * then codes, per-query 4×8 exact-d² lookup tables, ADC and exact
    * rankings, recall@10 and the planted twin's ADC rank. */
  private def q336OracleSql: String = {
    def kmChain(m: Int): String = {
      val lo = m * 16 + 1; val hi = (m + 1) * 16
      def assignBlock(out: String, cents: String) =
        s"""$out AS MATERIALIZED (SELECT vec_id, q, cid, d FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
           |      SELECT e.vec_id, e.q, c.cid,
           |        list_sum(list_transform(generate_series(1, len(e.q)),
           |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
           |      FROM e$m e CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin
      def updateBlock(k: Int) =
        s"""x${k}_$m AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a${k}_$m),
           |s${k}_$m AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
           |       FROM x${k}_$m GROUP BY cid, i),
           |u${k}_$m AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
           |       FROM s${k}_$m GROUP BY cid),
           |c${k}_$m AS MATERIALIZED (SELECT c${k - 1}_$m.cid, coalesce(u${k}_$m.c, c${k - 1}_$m.c) AS c
           |       FROM c${k - 1}_$m LEFT JOIN u${k}_$m USING (cid))""".stripMargin
      s"""e$m AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS q FROM pqc),
         |c0_$m AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
         |       FROM (SELECT vec_id, q FROM e$m ORDER BY vec_id LIMIT 8)),
         |${assignBlock(s"a1_$m", s"c0_$m")},
         |${updateBlock(1)},
         |${assignBlock(s"a2_$m", s"c1_$m")},
         |${updateBlock(2)},
         |${assignBlock(s"a3_$m", s"c2_$m")}""".stripMargin
    }
    val luts = (0 until 4).map { m =>
      val lo = m * 16
      s"""SELECT q.q_id, CAST($m AS BIGINT) AS m, c.cid,
         |    list_sum(list_transform(generate_series(1, 16),
         |      i -> (q.q[$lo + i] - c.c[i]) * (q.q[$lo + i] - c.c[i]))) AS d2
         |  FROM qry q CROSS JOIN c2_$m c""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH eqn AS MATERIALIZED (
       |  SELECT vec_id, q FROM (SELECT vec_id,
       |      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |    FROM embeddings)
       |  WHERE list_sum(list_transform(q, x -> x * x)) > 0),
       |qry AS MATERIALIZED (SELECT vec_id AS q_id, q FROM eqn
       |  WHERE vec_id >= 8 AND vec_id < 18),
       |pqc AS MATERIALIZED (
       |  SELECT vec_id, q FROM eqn WHERE vec_id >= 18
       |  UNION ALL SELECT -1000 - q_id AS vec_id,
       |    list_transform(q, (x, i) -> CASE WHEN i = 1 THEN x + 1 ELSE x END) AS q
       |  FROM qry),
       |${(0 until 4).map(kmChain).mkString(",\n")},
       |codes AS MATERIALIZED (
       |  SELECT a3_0.vec_id, a3_0.cid AS k0, a3_1.cid AS k1,
       |    a3_2.cid AS k2, a3_3.cid AS k3
       |  FROM a3_0 JOIN a3_1 USING (vec_id) JOIN a3_2 USING (vec_id)
       |    JOIN a3_3 USING (vec_id)),
       |lut AS MATERIALIZED (
       |  $luts),
       |adcr AS MATERIALIZED (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS BIGINT) AS rk
       |  FROM (SELECT l0.q_id, codes.vec_id,
       |      l0.d2 + l1.d2 + l2.d2 + l3.d2 AS adc
       |    FROM codes
       |    JOIN lut l0 ON l0.m = 0 AND l0.cid = codes.k0
       |    JOIN lut l1 ON l1.m = 1 AND l1.cid = codes.k1 AND l1.q_id = l0.q_id
       |    JOIN lut l2 ON l2.m = 2 AND l2.cid = codes.k2 AND l2.q_id = l0.q_id
       |    JOIN lut l3 ON l3.m = 3 AND l3.cid = codes.k3 AND l3.q_id = l0.q_id)),
       |extop AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, p.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(p.q)),
       |          i -> (p.q[i] - q.q[i]) * (p.q[i] - q.q[i]))), p.vec_id) AS rk
       |    FROM pqc p CROSS JOIN qry q)
       |  WHERE rk <= 10),
       |hits AS (SELECT e.q_id, CAST(count(a.q_id) AS BIGINT) AS n_hits
       |  FROM extop e LEFT JOIN (SELECT q_id, vec_id FROM adcr WHERE rk <= 10) a
       |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id
       |  GROUP BY e.q_id),
       |twin AS (SELECT q_id, rk AS twin_adc_rank FROM adcr
       |  WHERE vec_id = -1000 - q_id)
       |SELECT hits.q_id, hits.n_hits,
       |  hits.n_hits * 1000000 // 10 AS recall_ppm,
       |  twin.twin_adc_rank,
       |  CASE WHEN twin.twin_adc_rank <= 10 THEN CAST(1 AS BIGINT) ELSE 0 END
       |    AS twin_top10
       |FROM hits JOIN twin USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  /** q365's oracle: q336's four Lloyd's chains + codes + LUTs verbatim,
    * plus the coarse quantizer — 8 seed centroids (lowest real corpus
    * ids), corpus assignment and per-query nprobe=2 probe lists by exact
    * d² argmin (ties to the lowest centroid id), ADC ranked over the
    * PROBED rows only, and the two loss terms (ADC recall vs the coarse
    * ceiling) reported separately. */
  private def q365OracleSql: String = {
    def kmChain(m: Int): String = {
      val lo = m * 16 + 1; val hi = (m + 1) * 16
      def assignBlock(out: String, cents: String) =
        s"""$out AS MATERIALIZED (SELECT vec_id, q, cid, d FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
           |      SELECT e.vec_id, e.q, c.cid,
           |        list_sum(list_transform(generate_series(1, len(e.q)),
           |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
           |      FROM e$m e CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin
      def updateBlock(k: Int) =
        s"""x${k}_$m AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a${k}_$m),
           |s${k}_$m AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
           |       FROM x${k}_$m GROUP BY cid, i),
           |u${k}_$m AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
           |       FROM s${k}_$m GROUP BY cid),
           |c${k}_$m AS MATERIALIZED (SELECT c${k - 1}_$m.cid, coalesce(u${k}_$m.c, c${k - 1}_$m.c) AS c
           |       FROM c${k - 1}_$m LEFT JOIN u${k}_$m USING (cid))""".stripMargin
      s"""e$m AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS q FROM pqc),
         |c0_$m AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
         |       FROM (SELECT vec_id, q FROM e$m ORDER BY vec_id LIMIT 8)),
         |${assignBlock(s"a1_$m", s"c0_$m")},
         |${updateBlock(1)},
         |${assignBlock(s"a2_$m", s"c1_$m")},
         |${updateBlock(2)},
         |${assignBlock(s"a3_$m", s"c2_$m")}""".stripMargin
    }
    val luts = (0 until 4).map { m =>
      val lo = m * 16
      s"""SELECT q.q_id, CAST($m AS BIGINT) AS m, c.cid,
         |    list_sum(list_transform(generate_series(1, 16),
         |      i -> (q.q[$lo + i] - c.c[i]) * (q.q[$lo + i] - c.c[i]))) AS d2
         |  FROM qry q CROSS JOIN c2_$m c""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH eqn AS MATERIALIZED (
       |  SELECT vec_id, q FROM (SELECT vec_id,
       |      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |    FROM embeddings)
       |  WHERE list_sum(list_transform(q, x -> x * x)) > 0),
       |qry AS MATERIALIZED (SELECT vec_id AS q_id, q FROM eqn
       |  WHERE vec_id >= 8 AND vec_id < 18),
       |pqc AS MATERIALIZED (
       |  SELECT vec_id, q FROM eqn WHERE vec_id >= 18
       |  UNION ALL SELECT -1000 - q_id AS vec_id,
       |    list_transform(q, (x, i) -> CASE WHEN i = 1 THEN x + 1 ELSE x END) AS q
       |  FROM qry),
       |${(0 until 4).map(kmChain).mkString(",\n")},
       |codes AS MATERIALIZED (
       |  SELECT a3_0.vec_id, a3_0.cid AS k0, a3_1.cid AS k1,
       |    a3_2.cid AS k2, a3_3.cid AS k3
       |  FROM a3_0 JOIN a3_1 USING (vec_id) JOIN a3_2 USING (vec_id)
       |    JOIN a3_3 USING (vec_id)),
       |lut AS MATERIALIZED (
       |  $luts),
       |cc AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ccid, q AS c
       |  FROM (SELECT vec_id, q FROM pqc WHERE vec_id >= 18 ORDER BY vec_id LIMIT 8)),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, ccid AS cluster FROM (
       |    SELECT p.vec_id, c.ccid,
       |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(p.q)),
       |          i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))), c.ccid) AS rn
       |    FROM pqc p CROSS JOIN cc c) WHERE rn = 1),
       |probe AS MATERIALIZED (
       |  SELECT q_id, ccid AS cluster FROM (
       |    SELECT q.q_id, c.ccid,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.q)),
       |          i -> (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))), c.ccid) AS rn
       |    FROM qry q CROSS JOIN cc c) WHERE rn <= 2),
       |pr AS (SELECT probe.q_id, codes.vec_id, codes.k0, codes.k1,
       |    codes.k2, codes.k3
       |  FROM codes JOIN asg USING (vec_id)
       |  JOIN probe ON probe.cluster = asg.cluster),
       |adcr AS MATERIALIZED (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS BIGINT) AS rk
       |  FROM (SELECT pr.q_id, pr.vec_id,
       |      l0.d2 + l1.d2 + l2.d2 + l3.d2 AS adc
       |    FROM pr
       |    JOIN lut l0 ON l0.q_id = pr.q_id AND l0.m = 0 AND l0.cid = pr.k0
       |    JOIN lut l1 ON l1.q_id = pr.q_id AND l1.m = 1 AND l1.cid = pr.k1
       |    JOIN lut l2 ON l2.q_id = pr.q_id AND l2.m = 2 AND l2.cid = pr.k2
       |    JOIN lut l3 ON l3.q_id = pr.q_id AND l3.m = 3 AND l3.cid = pr.k3)),
       |np AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_probed
       |  FROM adcr GROUP BY q_id),
       |extop AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, p.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(p.q)),
       |          i -> (p.q[i] - q.q[i]) * (p.q[i] - q.q[i]))), p.vec_id) AS rk
       |    FROM pqc p CROSS JOIN qry q)
       |  WHERE rk <= 10),
       |hits AS (SELECT e.q_id,
       |    CAST(count(a.q_id) AS BIGINT) AS n_hits,
       |    CAST(count(p.q_id) AS BIGINT) AS ceil_hits
       |  FROM extop e
       |  LEFT JOIN (SELECT q_id, vec_id FROM adcr WHERE rk <= 10) a
       |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id
       |  LEFT JOIN (SELECT q_id, vec_id FROM adcr) p
       |    ON e.q_id = p.q_id AND e.vec_id = p.vec_id
       |  GROUP BY e.q_id),
       |twin AS (SELECT q_id, rk FROM adcr WHERE vec_id = -1000 - q_id)
       |SELECT np.q_id, np.n_probed, hits.n_hits,
       |  hits.n_hits * 1000000 // 10 AS recall_ppm,
       |  hits.ceil_hits,
       |  hits.ceil_hits * 1000000 // 10 AS ceiling_ppm,
       |  coalesce(twin.rk, CAST(0 AS BIGINT)) AS twin_rank,
       |  CASE WHEN twin.rk IS NOT NULL AND twin.rk <= 10
       |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS twin_top10
       |FROM np JOIN hits USING (q_id) LEFT JOIN twin USING (q_id)
       |ORDER BY np.q_id""".stripMargin
  }

  /** q371's oracle: q365's chains verbatim (PQ Lloyd's ×4, codes,
    * LUTs) plus ONE full-dim Lloyd's chain over the real corpus
    * (c0_c → 2 updates → c2_c, the kmeansAssignWithCents replay), the
    * shared exact-top-10 truth leg, and the q365 tail instantiated
    * twice — seed cents (= c0_c's vectors) and trained cents (c2_c). */
  private def q371OracleSql: String = {
    def kmChain(m: Int): String = {
      val lo = m * 16 + 1; val hi = (m + 1) * 16
      def assignBlock(out: String, cents: String) =
        s"""$out AS MATERIALIZED (SELECT vec_id, q, cid, d FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
           |      SELECT e.vec_id, e.q, c.cid,
           |        list_sum(list_transform(generate_series(1, len(e.q)),
           |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
           |      FROM e$m e CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin
      def updateBlock(k: Int) =
        s"""x${k}_$m AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a${k}_$m),
           |s${k}_$m AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
           |       FROM x${k}_$m GROUP BY cid, i),
           |u${k}_$m AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
           |       FROM s${k}_$m GROUP BY cid),
           |c${k}_$m AS MATERIALIZED (SELECT c${k - 1}_$m.cid, coalesce(u${k}_$m.c, c${k - 1}_$m.c) AS c
           |       FROM c${k - 1}_$m LEFT JOIN u${k}_$m USING (cid))""".stripMargin
      s"""e$m AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS q FROM pqc),
         |c0_$m AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
         |       FROM (SELECT vec_id, q FROM e$m ORDER BY vec_id LIMIT 8)),
         |${assignBlock(s"a1_$m", s"c0_$m")},
         |${updateBlock(1)},
         |${assignBlock(s"a2_$m", s"c1_$m")},
         |${updateBlock(2)},
         |${assignBlock(s"a3_$m", s"c2_$m")}""".stripMargin
    }
    // full-dim coarse Lloyd's over the REAL corpus (twins excluded):
    // init = 8 lowest vec_ids (== the seed quantizer), 2 updates
    def coarseChain: String = {
      def assignBlock(out: String, cents: String) =
        s"""$out AS MATERIALIZED (SELECT vec_id, q, cid FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
           |      SELECT e.vec_id, e.q, c.cid,
           |        list_sum(list_transform(generate_series(1, len(e.q)),
           |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
           |      FROM e_c e CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin
      def updateBlock(k: Int) =
        s"""x${k}_c AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a${k}_c),
           |s${k}_c AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
           |       FROM x${k}_c GROUP BY cid, i),
           |u${k}_c AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
           |       FROM s${k}_c GROUP BY cid),
           |c${k}_c AS MATERIALIZED (SELECT c${k - 1}_c.cid, coalesce(u${k}_c.c, c${k - 1}_c.c) AS c
           |       FROM c${k - 1}_c LEFT JOIN u${k}_c USING (cid))""".stripMargin
      s"""e_c AS MATERIALIZED (SELECT vec_id, q FROM pqc WHERE vec_id >= 18),
         |c0_c AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
         |       FROM (SELECT vec_id, q FROM e_c ORDER BY vec_id LIMIT 8)),
         |${assignBlock("a1_c", "c0_c")},
         |${updateBlock(1)},
         |${assignBlock("a2_c", "c1_c")},
         |${updateBlock(2)}""".stripMargin
    }
    val luts = (0 until 4).map { m =>
      val lo = m * 16
      s"""SELECT q.q_id, CAST($m AS BIGINT) AS m, c.cid,
         |    list_sum(list_transform(generate_series(1, 16),
         |      i -> (q.q[$lo + i] - c.c[i]) * (q.q[$lo + i] - c.c[i]))) AS d2
         |  FROM qry q CROSS JOIN c2_$m c""".stripMargin
    }.mkString("\nUNION ALL ")
    // one audit tail per quantizer: cents relation -> per-query stats
    def tail(x: String, cents: String): String =
      s"""asg_$x AS MATERIALIZED (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT p.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |        list_sum(list_transform(generate_series(1, len(p.q)),
         |          i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))), c.cid) AS rn
         |    FROM pqc p CROSS JOIN $cents c) WHERE rn = 1),
         |probe_$x AS MATERIALIZED (
         |  SELECT q_id, cid AS cluster FROM (
         |    SELECT q.q_id, c.cid,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        list_sum(list_transform(generate_series(1, len(q.q)),
         |          i -> (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))), c.cid) AS rn
         |    FROM qry q CROSS JOIN $cents c) WHERE rn <= 2),
         |pr_$x AS (SELECT probe_$x.q_id, codes.vec_id, codes.k0, codes.k1,
         |    codes.k2, codes.k3
         |  FROM codes JOIN asg_$x USING (vec_id)
         |  JOIN probe_$x ON probe_$x.cluster = asg_$x.cluster),
         |adcr_$x AS MATERIALIZED (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS BIGINT) AS rk
         |  FROM (SELECT pr_$x.q_id, pr_$x.vec_id,
         |      l0.d2 + l1.d2 + l2.d2 + l3.d2 AS adc
         |    FROM pr_$x
         |    JOIN lut l0 ON l0.q_id = pr_$x.q_id AND l0.m = 0 AND l0.cid = pr_$x.k0
         |    JOIN lut l1 ON l1.q_id = pr_$x.q_id AND l1.m = 1 AND l1.cid = pr_$x.k1
         |    JOIN lut l2 ON l2.q_id = pr_$x.q_id AND l2.m = 2 AND l2.cid = pr_$x.k2
         |    JOIN lut l3 ON l3.q_id = pr_$x.q_id AND l3.m = 3 AND l3.cid = pr_$x.k3)),
         |np_$x AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_probed
         |  FROM adcr_$x GROUP BY q_id),
         |hits_$x AS (SELECT e.q_id,
         |    CAST(count(a.q_id) AS BIGINT) AS n_hits,
         |    CAST(count(p.q_id) AS BIGINT) AS ceil_hits
         |  FROM extop e
         |  LEFT JOIN (SELECT q_id, vec_id FROM adcr_$x WHERE rk <= 10) a
         |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |  LEFT JOIN (SELECT q_id, vec_id FROM adcr_$x) p
         |    ON e.q_id = p.q_id AND e.vec_id = p.vec_id
         |  GROUP BY e.q_id),
         |twin_$x AS (SELECT q_id, rk FROM adcr_$x WHERE vec_id = -1000 - q_id)"""
        .stripMargin
    def outRows(tag: String, x: String): String =
      s"""SELECT '$tag' AS quant, np_$x.q_id, np_$x.n_probed, hits_$x.n_hits,
         |  hits_$x.n_hits * 1000000 // 10 AS recall_ppm,
         |  hits_$x.ceil_hits,
         |  hits_$x.ceil_hits * 1000000 // 10 AS ceiling_ppm,
         |  coalesce(twin_$x.rk, CAST(0 AS BIGINT)) AS twin_rank,
         |  CASE WHEN twin_$x.rk IS NOT NULL AND twin_$x.rk <= 10
         |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS twin_top10
         |FROM np_$x JOIN hits_$x USING (q_id) LEFT JOIN twin_$x USING (q_id)"""
        .stripMargin
    s"""WITH eqn AS MATERIALIZED (
       |  SELECT vec_id, q FROM (SELECT vec_id,
       |      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |    FROM embeddings)
       |  WHERE list_sum(list_transform(q, x -> x * x)) > 0),
       |qry AS MATERIALIZED (SELECT vec_id AS q_id, q FROM eqn
       |  WHERE vec_id >= 8 AND vec_id < 18),
       |pqc AS MATERIALIZED (
       |  SELECT vec_id, q FROM eqn WHERE vec_id >= 18
       |  UNION ALL SELECT -1000 - q_id AS vec_id,
       |    list_transform(q, (x, i) -> CASE WHEN i = 1 THEN x + 1 ELSE x END) AS q
       |  FROM qry),
       |${(0 until 4).map(kmChain).mkString(",\n")},
       |codes AS MATERIALIZED (
       |  SELECT a3_0.vec_id, a3_0.cid AS k0, a3_1.cid AS k1,
       |    a3_2.cid AS k2, a3_3.cid AS k3
       |  FROM a3_0 JOIN a3_1 USING (vec_id) JOIN a3_2 USING (vec_id)
       |    JOIN a3_3 USING (vec_id)),
       |lut AS MATERIALIZED (
       |  $luts),
       |$coarseChain,
       |extop AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, p.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(p.q)),
       |          i -> (p.q[i] - q.q[i]) * (p.q[i] - q.q[i]))), p.vec_id) AS rk
       |    FROM pqc p CROSS JOIN qry q)
       |  WHERE rk <= 10),
       |${tail("s", "c0_c")},
       |${tail("t", "c2_c")}
       |SELECT * FROM (
       |${outRows("0_seed", "s")}
       |UNION ALL
       |${outRows("1_trained", "t")})
       |ORDER BY quant, q_id""".stripMargin
  }

  /** q374's oracle: the q147 edge streams, per-distinct-key signs (the
    * sign is a function of the key alone, so the oracle computes each
    * key's 32 signs once and joins — same values as the Spark per-row
    * fold), per-(edge, rep) Z sums on both sides, floor-division mean
    * and median-of-means of the products, the exact/executed legs and
    * HUGEINT ppm errors. */
  private def q374OracleSql: String = {
    val r = graft.ops.PipelineOps.AmsReps
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    s"""WITH lft AS MATERIALIZED (
       |  SELECT 'lineitem-orders' AS edge, CAST(l_orderkey AS BIGINT) AS k
       |    FROM lineitem WHERE l_orderkey IS NOT NULL
       |  UNION ALL SELECT 'lineitem-part', CAST(l_partkey AS BIGINT)
       |    FROM lineitem WHERE l_partkey IS NOT NULL
       |  UNION ALL SELECT 'orders-customer', CAST(o_custkey AS BIGINT)
       |    FROM orders WHERE o_custkey IS NOT NULL),
       |rgt AS MATERIALIZED (
       |  SELECT 'lineitem-orders' AS edge, CAST(o_orderkey AS BIGINT) AS k
       |    FROM orders WHERE o_orderkey IS NOT NULL
       |  UNION ALL SELECT 'lineitem-part', CAST(p_partkey AS BIGINT)
       |    FROM part WHERE p_partkey IS NOT NULL
       |  UNION ALL SELECT 'orders-customer', CAST(c_custkey AS BIGINT)
       |    FROM customer WHERE c_custkey IS NOT NULL),
       |kx AS MATERIALIZED (SELECT DISTINCT k FROM (
       |  SELECT k FROM lft UNION ALL SELECT k FROM rgt)),
       |ks AS MATERIALIZED (SELECT k, t.r,
       |    CASE WHEN (${fp(
              "'amsj:' || CAST(t.r AS VARCHAR) || ':' || CAST(k AS VARCHAR)" +
              " || ':' || CAST((fpk % 1000003) * (fpk % 1000003) AS VARCHAR)")}
       |      // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM (SELECT k, ${fp("CAST(k AS VARCHAR)")} AS fpk FROM kx)
       |  CROSS JOIN generate_series(0, ${r - 1}) t(r)),
       |za AS MATERIALIZED (SELECT edge, r, CAST(sum(s) AS BIGINT) AS z,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM lft JOIN ks USING (k) GROUP BY edge, r),
       |zb AS MATERIALIZED (SELECT edge, r, CAST(sum(s) AS BIGINT) AS z,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM rgt JOIN ks USING (k) GROUP BY edge, r),
       |prods AS MATERIALIZED (SELECT a.edge, a.r, a.z * b.z AS p
       |  FROM za a JOIN zb b ON a.edge = b.edge AND a.r = b.r),
       |mn AS (SELECT edge, CAST(sum(p) // $r AS BIGINT) AS m
       |  FROM prods GROUP BY edge),
       |grp AS (SELECT edge, CAST(sum(p) // 4 AS BIGINT) AS gm
       |  FROM prods GROUP BY edge, r // 4),
       |mom AS (SELECT edge, CAST(sum(gm) // 2 AS BIGINT) AS m FROM (
       |    SELECT edge, gm, row_number() OVER (PARTITION BY edge
       |      ORDER BY gm) AS rn FROM grp)
       |  WHERE rn IN (${r / 8}, ${r / 8 + 1}) GROUP BY edge),
       |ex AS (SELECT a.edge, CAST(coalesce(sum(a.na * b.nb), 0) AS BIGINT) AS p
       |  FROM (SELECT edge, k, count(*) AS na FROM lft GROUP BY edge, k) a
       |  JOIN (SELECT edge, k, count(*) AS nb FROM rgt GROUP BY edge, k) b
       |    ON a.edge = b.edge AND a.k = b.k
       |  GROUP BY a.edge),
       |act AS (SELECT lft.edge, CAST(count(*) AS BIGINT) AS a
       |  FROM lft JOIN rgt ON lft.edge = rgt.edge AND lft.k = rgt.k
       |  GROUP BY lft.edge),
       |nsz AS (SELECT edge,
       |    (SELECT n FROM za WHERE za.edge = e.edge AND za.r = 0) AS n_left,
       |    (SELECT n FROM zb WHERE zb.edge = e.edge AND zb.r = 0) AS n_right
       |  FROM (SELECT DISTINCT edge FROM lft) e)
       |SELECT nsz.edge, nsz.n_left, nsz.n_right,
       |  ex.p AS exact_pred, act.a AS actual_rows,
       |  mn.m AS ams_mean, mom.m AS ams_mom,
       |  CAST(abs(CAST(mn.m AS HUGEINT) - act.a) * 1000000 // act.a
       |    AS BIGINT) AS err_mean_ppm,
       |  CAST(abs(CAST(mom.m AS HUGEINT) - act.a) * 1000000 // act.a
       |    AS BIGINT) AS err_mom_ppm
       |FROM nsz JOIN ex USING (edge) JOIN act USING (edge)
       |JOIN mn USING (edge) JOIN mom USING (edge)
       |ORDER BY nsz.edge""".stripMargin
  }

  /** q377's oracle: q371's chains (PQ ×4, full-dim coarse Lloyd's,
    * shared truth leg) with the TRAINED-quantizer tail instantiated at
    * each swept nprobe — only the probe CTE's rn bound varies. */
  private def q377OracleSql: String = {
    val q371 = q371OracleSql
    // reuse q371's text up to and including the shared extop CTE, then
    // attach per-nprobe trained tails — the chain prefixes are IDENTICAL
    // by construction (same generator below would duplicate 200 lines)
    val cutMarker = "extop AS MATERIALIZED ("
    val cut = q371.indexOf(cutMarker)
    require(cut >= 0, "q371 oracle shape changed — update q377's reuse")
    val endMarker = "  WHERE rk <= 10),"
    val end = q371.indexOf(endMarker, cut)
    require(end >= 0, "q371 extop tail changed — update q377's reuse")
    val prefix = q371.substring(0, end + endMarker.length)
    def tail(np: Int): String = {
      val x = s"p$np"
      s"""asg_$x AS MATERIALIZED (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT p.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |        list_sum(list_transform(generate_series(1, len(p.q)),
         |          i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))), c.cid) AS rn
         |    FROM pqc p CROSS JOIN c2_c c) WHERE rn = 1),
         |probe_$x AS MATERIALIZED (
         |  SELECT q_id, cid AS cluster FROM (
         |    SELECT q.q_id, c.cid,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        list_sum(list_transform(generate_series(1, len(q.q)),
         |          i -> (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))), c.cid) AS rn
         |    FROM qry q CROSS JOIN c2_c c) WHERE rn <= $np),
         |pr_$x AS (SELECT probe_$x.q_id, codes.vec_id, codes.k0, codes.k1,
         |    codes.k2, codes.k3
         |  FROM codes JOIN asg_$x USING (vec_id)
         |  JOIN probe_$x ON probe_$x.cluster = asg_$x.cluster),
         |adcr_$x AS MATERIALIZED (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS BIGINT) AS rk
         |  FROM (SELECT pr_$x.q_id, pr_$x.vec_id,
         |      l0.d2 + l1.d2 + l2.d2 + l3.d2 AS adc
         |    FROM pr_$x
         |    JOIN lut l0 ON l0.q_id = pr_$x.q_id AND l0.m = 0 AND l0.cid = pr_$x.k0
         |    JOIN lut l1 ON l1.q_id = pr_$x.q_id AND l1.m = 1 AND l1.cid = pr_$x.k1
         |    JOIN lut l2 ON l2.q_id = pr_$x.q_id AND l2.m = 2 AND l2.cid = pr_$x.k2
         |    JOIN lut l3 ON l3.q_id = pr_$x.q_id AND l3.m = 3 AND l3.cid = pr_$x.k3)),
         |np_$x AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_probed
         |  FROM adcr_$x GROUP BY q_id),
         |hits_$x AS (SELECT e.q_id,
         |    CAST(count(a.q_id) AS BIGINT) AS n_hits,
         |    CAST(count(p.q_id) AS BIGINT) AS ceil_hits
         |  FROM extop e
         |  LEFT JOIN (SELECT q_id, vec_id FROM adcr_$x WHERE rk <= 10) a
         |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |  LEFT JOIN (SELECT q_id, vec_id FROM adcr_$x) p
         |    ON e.q_id = p.q_id AND e.vec_id = p.vec_id
         |  GROUP BY e.q_id),
         |twin_$x AS (SELECT q_id, rk FROM adcr_$x WHERE vec_id = -1000 - q_id)"""
        .stripMargin
    }
    def outRows(np: Int): String = {
      val x = s"p$np"
      s"""SELECT CAST($np AS BIGINT) AS nprobe, np_$x.q_id, np_$x.n_probed,
         |  hits_$x.n_hits,
         |  hits_$x.n_hits * 1000000 // 10 AS recall_ppm,
         |  hits_$x.ceil_hits,
         |  hits_$x.ceil_hits * 1000000 // 10 AS ceiling_ppm,
         |  coalesce(twin_$x.rk, CAST(0 AS BIGINT)) AS twin_rank,
         |  CASE WHEN twin_$x.rk IS NOT NULL AND twin_$x.rk <= 10
         |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS twin_top10
         |FROM np_$x JOIN hits_$x USING (q_id) LEFT JOIN twin_$x USING (q_id)"""
        .stripMargin
    }
    val sweep = graft.ops.SimilarityOps.IvfNprobeSweep
    s"""$prefix
       |${sweep.map(tail).mkString(",\n")}
       |SELECT * FROM (
       |${sweep.map(outRows).mkString("\nUNION ALL ")})
       |ORDER BY nprobe, q_id""".stripMargin
  }

  /** q378's oracle: the support-2 edge build + plant VALUES, degree
    * init, [[graft.ops.AffinityOps.KCoreOracleRounds]] unrolled h-index
    * rounds (idempotent past the fixpoint), the first-unchanged-round
    * detector, and the histogram/plant/rounds report. */
  private def q378OracleSql: String = {
    val t = graft.ops.AffinityOps.KCoreOracleRounds
    val plants = graft.ops.AffinityOps.KCorePlant
      .map { case (a, b) => s"(CAST($a AS BIGINT), CAST($b AS BIGINT))" }
      .mkString(",\n    ")
    val rounds = (1 to t).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT v, CAST(max(CASE WHEN cv >= rn THEN rn ELSE 0 END)
         |    AS BIGINT) AS c
         |  FROM (SELECT und.v, p.c AS cv,
         |      row_number() OVER (PARTITION BY und.v ORDER BY p.c DESC)
         |        AS rn
         |    FROM und JOIN c${k - 1} p ON p.v = und.u)
         |  GROUP BY v),
         |chg$k AS (SELECT CAST(count(*) AS BIGINT) AS n
         |  FROM c$k a JOIN c${k - 1} b USING (v) WHERE a.c <> b.c)"""
        .stripMargin
    }.mkString(",\n")
    val rlist = (1 to t)
      .map(k => s"SELECT $k AS t, (SELECT n FROM chg$k) AS n")
      .mkString("\nUNION ALL ")
    s"""WITH po AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |edges AS MATERIALIZED (
       |  SELECT p1, p2 FROM (
       |    SELECT a.pk AS p1, b.pk AS p2, count(*) AS w
       |    FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
       |    GROUP BY 1, 2) WHERE w >= 2
       |  UNION ALL SELECT * FROM (VALUES
       |    $plants) v(p1, p2)),
       |und AS MATERIALIZED (
       |  SELECT p1 AS v, p2 AS u FROM edges
       |  UNION ALL SELECT p2 AS v, p1 AS u FROM edges),
       |c0 AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS c
       |  FROM und GROUP BY v),
       |$rounds,
       |rl AS ($rlist),
       |rnd AS (SELECT CAST(min(t) AS BIGINT) AS r FROM rl WHERE n = 0),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c$t)
       |SELECT * FROM (
       |SELECT 'core:' || CAST(c AS VARCHAR) AS grp, c AS core,
       |  CAST(count(*) AS BIGINT) AS n_nodes
       |FROM c$t GROUP BY c
       |UNION ALL
       |SELECT 'part:' || CAST(v AS VARCHAR), c, CAST(1 AS BIGINT)
       |FROM c$t WHERE v <= -37800 AND v > -37900
       |UNION ALL
       |SELECT 'rounds', (SELECT r FROM rnd), (SELECT n FROM tot))
       |ORDER BY grp""".stripMargin
  }

  /** q384's oracle: the q378 po/edges/und graph text with the BFS plant,
    * then an INDEPENDENT algorithm — a depth-capped recursive CTE
    * enumerating (node, depth) pairs and taking min per node — rather
    * than a replay of the Spark frontier loop. */
  private def q384OracleSql: String = {
    val cap = graft.ops.AffinityOps.BfsMaxDist
    val plants = graft.ops.AffinityOps.BfsPlant
      .map { case (a, b) => s"(CAST($a AS BIGINT), CAST($b AS BIGINT))" }
      .mkString(",\n    ")
    s"""WITH RECURSIVE po AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |edges AS MATERIALIZED (
       |  SELECT p1, p2 FROM (
       |    SELECT a.pk AS p1, b.pk AS p2, count(*) AS w
       |    FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
       |    GROUP BY 1, 2) WHERE w >= 2
       |  UNION ALL SELECT * FROM (VALUES
       |    $plants) v(p1, p2)),
       |und AS MATERIALIZED (
       |  SELECT p1 AS v, p2 AS u FROM edges
       |  UNION ALL SELECT p2 AS v, p1 AS u FROM edges),
       |nodes AS MATERIALIZED (SELECT DISTINCT v FROM und),
       |seeds AS (SELECT v FROM nodes
       |  WHERE (v > 0 AND v % 97 = 0) OR v = -38401),
       |r AS (SELECT v, 0 AS d FROM seeds
       |  UNION
       |  SELECT und.u AS v, r.d + 1 AS d
       |  FROM r JOIN und ON und.v = r.v WHERE r.d < $cap),
       |md AS MATERIALIZED (SELECT v, CAST(min(d) AS BIGINT) AS d
       |  FROM r GROUP BY v),
       |tot AS (SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
       |    (SELECT CAST(count(*) AS BIGINT) FROM md) AS n_visited,
       |    (SELECT CAST(max(d) AS BIGINT) FROM md) AS max_d)
       |SELECT * FROM (
       |SELECT 'dist:' || CAST(d AS VARCHAR) AS grp, d AS dist,
       |  CAST(count(*) AS BIGINT) AS n_nodes
       |FROM md GROUP BY d
       |UNION ALL
       |SELECT 'part:' || CAST(n.v AS VARCHAR), coalesce(md.d, -1),
       |  CAST(1 AS BIGINT)
       |FROM nodes n LEFT JOIN md ON md.v = n.v
       |WHERE n.v <= -38400 AND n.v > -38500
       |UNION ALL
       |SELECT 'unreachable', -1, n_nodes - n_visited FROM tot
       |UNION ALL
       |SELECT 'z_summary', max_d, n_visited FROM tot)
       |ORDER BY grp""".stripMargin
  }

  /** q400's oracle: the (balance-band, nation) cell fold, TWO unrolled
    * six-round Mondrian chains (multidimensional and x-forced) under
    * the identical guarded split rule, leaf extents and all three
    * discernibility roll-ups. */
  private def q400OracleSql: String = {
    val k = graft.ops.PipelineOps.MondrianK
    val rr = graft.ops.PipelineOps.MondrianRounds
    val cell = graft.ops.PipelineOps.MondrianCell
    def round(tag: String, kk: Int, axisExpr: String): String = {
      val p = if (kk == 1) s"${tag}0" else s"$tag${kk - 1}"
      s"""st$tag$kk AS (SELECT box, max(cx) - min(cx) AS rx,
         |    max(cy) - min(cy) AS ry, CAST(sum(w) AS BIGINT) AS tw
         |  FROM $p GROUP BY box),
         |ax$tag$kk AS (SELECT box, tw, $axisExpr AS ax FROM st$tag$kk),
         |cx$tag$kk AS (SELECT c.cx, c.cy, c.w, c.box, a.tw,
         |    CASE a.ax WHEN 0 THEN c.cx ELSE c.cy END AS coord
         |  FROM $p c JOIN ax$tag$kk a USING (box)),
         |cw$tag$kk AS (SELECT box, coord, CAST(sum(w) AS BIGINT) AS cw,
         |    CAST(min(tw) AS BIGINT) AS tw
         |  FROM cx$tag$kk GROUP BY box, coord),
         |cc$tag$kk AS (SELECT box, coord, tw,
         |    sum(cw) OVER (PARTITION BY box ORDER BY coord) AS cum
         |  FROM cw$tag$kk),
         |spa$tag$kk AS (SELECT box,
         |    min(CASE WHEN cum >= (tw + 1) // 2 THEN coord END) AS sraw,
         |    min(coord) AS mn, max(coord) AS mx
         |  FROM cc$tag$kk GROUP BY box),
         |sp$tag$kk AS (SELECT a.box, a.mn, a.mx,
         |    CASE WHEN a.sraw = a.mx AND a.mx > a.mn
         |      THEN (SELECT max(coord) FROM cw$tag$kk w2
         |            WHERE w2.box = a.box AND w2.coord < a.mx)
         |      ELSE a.sraw END AS s
         |  FROM spa$tag$kk a),
         |acc$tag$kk AS (SELECT p.box, p.s,
         |    CASE WHEN p.mx > p.mn
         |      AND (SELECT CAST(sum(cw) AS BIGINT) FROM cw$tag$kk w3
         |           WHERE w3.box = p.box AND w3.coord <= p.s) >= $k
         |      AND (SELECT CAST(sum(cw) AS BIGINT) FROM cw$tag$kk w4
         |           WHERE w4.box = p.box AND w4.coord > p.s) >= $k
         |      THEN 1 ELSE 0 END AS acc
         |  FROM sp$tag$kk p),
         |$tag$kk AS MATERIALIZED (SELECT c.cx, c.cy, c.w,
         |    CASE WHEN a.acc = 1
         |      THEN c.box * 2 + CASE WHEN c.coord > a.s THEN 1 ELSE 0 END
         |      ELSE c.box END AS box
         |  FROM cx$tag$kk c JOIN acc$tag$kk a USING (box))""".stripMargin
    }
    def chain(tag: String, axisExpr: String): String =
      (1 to rr).map(kk => round(tag, kk, axisExpr)).mkString(",\n")
    def disc(frame: String): String =
      s"""(SELECT CAST(sum(m * m) AS BIGINT) FROM
         |  (SELECT CAST(sum(w) AS BIGINT) AS m FROM $frame GROUP BY box))"""
        .stripMargin
    def mins(frame: String): String =
      s"""(SELECT CAST(min(m) AS BIGINT) FROM
         |  (SELECT CAST(sum(w) AS BIGINT) AS m FROM $frame GROUP BY box))"""
        .stripMargin
    def nlv(frame: String): String =
      s"(SELECT CAST(count(DISTINCT box) AS BIGINT) FROM $frame)"
    s"""WITH cells AS MATERIALIZED (SELECT
       |    CAST(round(c_acctbal * 100) AS BIGINT) // $cell AS cx,
       |    CAST(c_nationkey AS BIGINT) AS cy,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM customer GROUP BY 1, 2),
       |m0 AS (SELECT cx, cy, w, 1 AS box FROM cells),
       |x0 AS (SELECT cx, cy, w, 1 AS box FROM cells),
       |${chain("m", "CASE WHEN rx >= ry THEN 0 ELSE 1 END")},
       |${chain("x", "0")},
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS n FROM cells)
       |SELECT * FROM (
       |SELECT 'leaf:' || CASE WHEN box < 10 THEN '00'
       |    WHEN box < 100 THEN '0' ELSE '' END || CAST(box AS VARCHAR)
       |    AS scope,
       |  CAST(min(cx) AS BIGINT) AS x0, CAST(max(cx) AS BIGINT) AS x1,
       |  CAST(min(cy) AS BIGINT) AS y0, CAST(max(cy) AS BIGINT) AS y1,
       |  CAST(sum(w) AS BIGINT) AS n_or_disc
       |FROM m$rr GROUP BY box
       |UNION ALL SELECT 'z0_none', 1, (SELECT n FROM tot), 0, 0,
       |  (SELECT n * n FROM tot)
       |UNION ALL SELECT 'z1_xonly', ${nlv(s"x$rr")}, ${mins(s"x$rr")},
       |  0, 0, ${disc(s"x$rr")}
       |UNION ALL SELECT 'z2_multi', ${nlv(s"m$rr")}, ${mins(s"m$rr")},
       |  0, 0, ${disc(s"m$rr")})
       |ORDER BY scope""".stripMargin
  }

  /** q399's oracle: the q388 pair/sign text with the mod-40 experiment
    * split and planted shifts, per-experiment add-one MC p-values, the
    * cross-multiplied BH step-up scan, and both procedures' realized
    * false-discovery roll-ups. */
  private def q399OracleSql: String = {
    val m = graft.ops.PipelineOps.FdrExperiments
    val eff = graft.ops.PipelineOps.FdrEffects
    val shift = graft.ops.PipelineOps.FdrShiftCents
    val alpha = graft.ops.PipelineOps.FdrAlphaPpm
    val r = graft.ops.PipelineOps.FdrReps
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''),
         |    c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)""".stripMargin
    s"""WITH by AS (SELECT CAST(o_custkey AS BIGINT) AS c,
       |    CAST(year(o_orderdate) AS BIGINT) AS y,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
       |ag0 AS (SELECT c, y, CAST(sum(cents) AS BIGINT) AS v
       |  FROM by GROUP BY c, y),
       |p0 AS (SELECT a.c, a.c % $m AS e, b.v - a.v AS d0,
       |    ${fp("'sym:' || CAST(a.c AS VARCHAR)")} AS fs
       |  FROM ag0 a JOIN ag0 b ON a.c = b.c AND a.y = 1995 AND b.y = 1996),
       |pairs AS MATERIALIZED (SELECT c, e,
       |    (CASE WHEN ((fs * fs // 65536) % 2) = 0 THEN 1 ELSE -1 END)
       |      * d0 + CASE WHEN e < $eff THEN $shift ELSE 0 END AS d
       |  FROM p0),
       |fk AS (SELECT c, e, d, ${fp("CAST(c AS VARCHAR)")} AS fpk FROM pairs),
       |sg AS (SELECT fk.e, t.r, fk.d,
       |    CASE WHEN (${fp(
              "'fdr:' || CAST(t.r AS VARCHAR) || ':' || CAST(fk.c AS VARCHAR)" +
              " || ':' || CAST((fk.fpk % 1000003) * (fk.fpk % 1000003)" +
              " AS VARCHAR)")}
       |      // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM fk CROSS JOIN generate_series(0, ${r - 1}) t(r)),
       |ts AS MATERIALIZED (SELECT e, r, CAST(sum(s * d) AS BIGINT) AS t
       |  FROM sg GROUP BY e, r),
       |ob AS MATERIALIZED (SELECT e, CAST(sum(d) AS BIGINT) AS t0,
       |    CAST(count(*) AS BIGINT) AS np FROM pairs GROUP BY e),
       |pe AS MATERIALIZED (SELECT ob.e, ob.np, ob.t0,
       |    (CAST((SELECT count(*) FROM ts
       |      WHERE ts.e = ob.e AND abs(ts.t) >= abs(ob.t0)) AS BIGINT) + 1)
       |      * 1000000 // ${r + 1} AS p
       |  FROM ob),
       |rk AS MATERIALIZED (SELECT e, np, t0, p,
       |    row_number() OVER (ORDER BY p, e) AS k FROM pe),
       |ks AS (SELECT CAST(coalesce(max(k), 0) AS BIGINT) AS ks FROM rk
       |  WHERE p * $m <= k * $alpha),
       |fin AS MATERIALIZED (SELECT e, np, t0, p,
       |    CASE WHEN p <= $alpha THEN 1 ELSE 0 END AS naive_rej,
       |    CASE WHEN k <= (SELECT ks FROM ks) THEN 1 ELSE 0 END AS bh_rej,
       |    CASE WHEN e < $eff THEN 1 ELSE 0 END AS has_effect
       |  FROM rk)
       |SELECT * FROM (
       |SELECT 'e' || CASE WHEN e < 10 THEN '0' ELSE '' END ||
       |  CAST(e AS VARCHAR) AS scope, np AS n_pairs, t0 AS t_obs,
       |  p AS p_ppm, CAST(naive_rej AS BIGINT) AS naive_rej,
       |  CAST(bh_rej AS BIGINT) AS bh_rej,
       |  CAST(has_effect AS BIGINT) AS has_effect
       |FROM fin
       |UNION ALL SELECT 'z_naive',
       |  CAST(sum(naive_rej) AS BIGINT),
       |  CAST(sum(CASE WHEN naive_rej = 1 AND has_effect = 0
       |    THEN 1 ELSE 0 END) AS BIGINT),
       |  CASE WHEN sum(naive_rej) = 0 THEN 0
       |    ELSE CAST(sum(CASE WHEN naive_rej = 1 AND has_effect = 0
       |      THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |      // CAST(sum(naive_rej) AS BIGINT) END, 0, 0, 0
       |FROM fin
       |UNION ALL SELECT 'z_bh',
       |  CAST(sum(bh_rej) AS BIGINT),
       |  CAST(sum(CASE WHEN bh_rej = 1 AND has_effect = 0
       |    THEN 1 ELSE 0 END) AS BIGINT),
       |  CASE WHEN sum(bh_rej) = 0 THEN 0
       |    ELSE CAST(sum(CASE WHEN bh_rej = 1 AND has_effect = 0
       |      THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |      // CAST(sum(bh_rej) AS BIGINT) END,
       |  (SELECT ks FROM ks), 0, 0
       |FROM fin)
       |ORDER BY scope""".stripMargin
  }

  /** q398's oracle: the q291 reward text, the ppm propensity coin, and
    * the naive/IPS/SNIPS folds with identical weight floors. */
  private def q398OracleSql: String = {
    def fp(salt: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
         |        string_split('$salt:' || CAST(CAST(c_custkey AS BIGINT)
         |          AS VARCHAR), ''),
         |        x -> CAST(ascii(x) AS BIGINT))), $FpByteFold)""".stripMargin
    s"""WITH b AS MATERIALIZED (SELECT k,
       |    CASE WHEN nat THEN 750000 ELSE 250000 END AS p,
       |    CAST((nat OR (fb * fb // 65536) % 2 = 0) AS INTEGER) AS r1,
       |    CASE WHEN (fu * fu // 65536) % 1000000 <
       |      (CASE WHEN nat THEN 750000 ELSE 250000 END)
       |      THEN 1 ELSE 0 END AS treated
       |  FROM (SELECT CAST(c_custkey AS BIGINT) AS k,
       |      coalesce(m.mx, 0) >= 46500000 AS nat,
       |      ${fp("boost")} AS fb,
       |      ${fp("logb")} AS fu
       |    FROM customer LEFT JOIN (SELECT CAST(o_custkey AS BIGINT) AS k,
       |        max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
       |      FROM orders GROUP BY 1) m ON CAST(c_custkey AS BIGINT) = m.k)),
       |ag AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(treated) AS BIGINT) AS m,
       |    CAST(sum(r1) AS BIGINT) AS t,
       |    CAST(sum(CASE WHEN treated = 1 THEN r1 ELSE 0 END) AS BIGINT)
       |      AS wn,
       |    CAST(sum(CASE WHEN treated = 1
       |      THEN r1 * (1000000000000 // p) ELSE 0 END) AS BIGINT) AS wi,
       |    CAST(sum(CASE WHEN treated = 1
       |      THEN 1000000000000 // p ELSE 0 END) AS BIGINT) AS den
       |  FROM b)
       |SELECT * FROM (
       |SELECT '1_naive' AS scope, m AS n_used,
       |  wn * 1000000 // m AS v_hat_ppm, t * 1000000 // n AS v_true_ppm,
       |  abs(wn * 1000000 // m - t * 1000000 // n) AS err_ppm FROM ag
       |UNION ALL SELECT '2_ips', n, wi // n, t * 1000000 // n,
       |  abs(wi // n - t * 1000000 // n) FROM ag
       |UNION ALL SELECT '3_snips', m, wi * 1000000 // den,
       |  t * 1000000 // n, abs(wi * 1000000 // den - t * 1000000 // n)
       |FROM ag)
       |ORDER BY scope""".stripMargin
  }

  /** q397's oracle: the q291 assignment/reward text (one definition of
    * the logged arm and potential outcomes), the balance-rule policy,
    * and the three matched-round replay folds + exact counterfactual
    * truths. */
  private def q397OracleSql: String = {
    def fp(salt: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
         |        string_split('$salt:' || CAST(CAST(c_custkey AS BIGINT)
         |          AS VARCHAR), ''),
         |        x -> CAST(ascii(x) AS BIGINT))), $FpByteFold)""".stripMargin
    s"""WITH b AS MATERIALIZED (SELECT k, bal,
       |    (f1 * f1 // 65536) % 2 AS logged,
       |    CAST((nat OR (fb * fb // 65536) % 2 = 0) AS INTEGER) AS r1,
       |    CAST(nat AS INTEGER) AS r0,
       |    CASE WHEN bal > 0 THEN 1 ELSE 0 END AS pi_bal
       |  FROM (SELECT CAST(c_custkey AS BIGINT) AS k,
       |      CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
       |      coalesce(m.mx, 0) >= 46500000 AS nat,
       |      ${fp("exp1")} AS f1,
       |      ${fp("boost")} AS fb
       |    FROM customer LEFT JOIN (SELECT CAST(o_custkey AS BIGINT) AS k,
       |        max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
       |      FROM orders GROUP BY 1) m ON CAST(c_custkey AS BIGINT) = m.k)),
       |ag AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN logged = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS m_at,
       |    CAST(sum(CASE WHEN logged = 1 THEN r1 ELSE 0 END) AS BIGINT)
       |      AS w_at,
       |    CAST(sum(r1) AS BIGINT) AS t_at,
       |    CAST(sum(CASE WHEN logged = pi_bal THEN 1 ELSE 0 END) AS BIGINT)
       |      AS m_bal,
       |    CAST(sum(CASE WHEN logged = pi_bal THEN
       |      CASE WHEN logged = 1 THEN r1 ELSE r0 END ELSE 0 END) AS BIGINT)
       |      AS w_bal,
       |    CAST(sum(CASE WHEN pi_bal = 1 THEN r1 ELSE r0 END) AS BIGINT)
       |      AS t_bal,
       |    CAST(sum(CASE WHEN logged = 1 THEN r1 ELSE r0 END) AS BIGINT)
       |      AS w_log
       |  FROM b)
       |SELECT * FROM (
       |SELECT '1_always_treat' AS scope, m_at AS n_matched,
       |  CASE WHEN m_at = 0 THEN 0 ELSE w_at * 1000000 // m_at END
       |    AS v_hat_ppm,
       |  t_at * 1000000 // n AS v_true_ppm,
       |  abs(CASE WHEN m_at = 0 THEN 0 ELSE w_at * 1000000 // m_at END
       |    - t_at * 1000000 // n) AS err_ppm
       |FROM ag
       |UNION ALL SELECT '2_balance_rule', m_bal,
       |  CASE WHEN m_bal = 0 THEN 0 ELSE w_bal * 1000000 // m_bal END,
       |  t_bal * 1000000 // n,
       |  abs(CASE WHEN m_bal = 0 THEN 0 ELSE w_bal * 1000000 // m_bal END
       |    - t_bal * 1000000 // n)
       |FROM ag
       |UNION ALL SELECT '3_logging', n, w_log * 1000000 // n,
       |  w_log * 1000000 // n, 0
       |FROM ag)
       |ORDER BY scope""".stripMargin
  }

  /** q396's oracle: the weighted substring rank, one scalar row of
    * length-grouped vocabulary lists per budget, and the q255 DP fold
    * (list-of-BIGINT accumulator — the safe list_reduce family) with
    * length-grouped membership candidates, all four legs in one pass. */
  private def q396OracleSql: String = {
    val sweep = graft.ops.CorpusOps.SeedVocabSweep
    val gmax = graft.ops.CorpusOps.SeedMaxLen
    val subLists = (1 to gmax).map { g =>
      s"list_transform(generate_series(1, len(w) - ${g - 1}), " +
        s"i -> substr(w, CAST(i AS INTEGER), $g))"
    }.reduce((a, b) => s"list_concat($a, $b)")
    val vlCols = (s"(SELECT list(sub ORDER BY sub) FROM rk " +
      s"WHERE len(sub) = 1) AS c1") +:
      (for (v <- sweep; g <- 2 to gmax) yield
        s"(SELECT list(sub ORDER BY sub) FROM rk WHERE len(sub) = $g " +
          s"AND rn <= $v) AS l${v}_$g")
    def dp(v: Int): String = {
      val cands = (2 to gmax).map { g =>
        s"""CASE WHEN e[1] >= $g AND coalesce(list_contains(l${v}_$g,
           |  substr(t.w, CAST(e[1] - ${g - 1} AS INTEGER), $g)), false)
           |  THEN acc[CAST(e[1] - ${g - 1} AS INTEGER)] + 1
           |  ELSE 1000000 END""".stripMargin
      }.mkString(",\n        ")
      s"""(list_reduce(list_prepend([CAST(0 AS BIGINT)],
         |  list_transform(generate_series(1, CAST(length(t.w) AS BIGINT)),
         |    i -> [i])),
         |  (acc, e) -> list_append(acc, least(
         |    acc[CAST(e[1] AS INTEGER)] + 1,
         |        $cands))))[CAST(length(t.w) + 1 AS INTEGER)]""".stripMargin
    }
    val legCols = sweep.map(v => s"${dp(v)} AS v$v").mkString(",\n    ")
    val legAggs = sweep.map(v =>
      s"CAST(sum(n * v$v) AS BIGINT) AS s$v").mkString(",\n    ")
    val legRows = sweep.map { v =>
      val tag = f"v$v%03d"
      s"""UNION ALL SELECT '$tag',
         |  (SELECT CAST(count(*) AS BIGINT) FROM rk
         |   WHERE rn <= $v OR len(sub) = 1),
         |  s$v, s$v * 1000 // nw, s$v * 1000000 // ct FROM ag"""
        .stripMargin
    }.mkString("\n")
    s"""WITH tt AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE regexp_full_match(w, '[a-z]+') GROUP BY w),
       |subs AS (SELECT s.sub, CAST(sum(t.n) AS BIGINT) AS weight
       |  FROM tt t, unnest($subLists) s(sub)
       |  GROUP BY s.sub),
       |rk AS MATERIALIZED (SELECT sub,
       |    row_number() OVER (ORDER BY weight DESC, sub) AS rn
       |  FROM subs),
       |vl AS MATERIALIZED (SELECT
       |  ${vlCols.mkString(",\n  ")}),
       |sc AS (SELECT t.n, CAST(length(t.w) AS BIGINT) AS lw,
       |    $legCols
       |  FROM tt t CROSS JOIN vl),
       |ag AS MATERIALIZED (SELECT CAST(sum(n) AS BIGINT) AS nw,
       |    CAST(sum(n * lw) AS BIGINT) AS ct,
       |    $legAggs
       |  FROM sc)
       |SELECT * FROM (
       |SELECT 'v000_chars' AS scope,
       |  (SELECT CAST(count(*) AS BIGINT) FROM rk WHERE len(sub) = 1)
       |    AS vocab_size,
       |  ct AS tokens, ct * 1000 // nw AS fert_milli,
       |  CAST(1000000 AS BIGINT) AS comp_ppm FROM ag
       |$legRows)
       |ORDER BY scope""".stripMargin
  }

  /** q395's oracle: the q123 graph text twice (old pairs; + clique plant
    * and the in-query mod-500 anchors), 18 unrolled rank rounds (6 old,
    * 6 cold, 6 warm) through the identical recurrence, and the per-round
    * L1/diff-count distances against the cold round-6 reference. */
  private def q395OracleSql: String = {
    val rr = graft.ops.AffinityOps.IncrRankRounds
    val plants = graft.ops.AffinityOps.RankBatchPlant
      .map { case (a, b, w) =>
        s"(CAST($a AS BIGINT), CAST($b AS BIGINT), CAST($w AS BIGINT))"
      }.mkString(",\n    ")
    def round(name: String, g: String, prev: String): String =
      s"""$name AS MATERIALIZED (SELECT dst AS pk,
         |  150000 + 850 * CAST(sum(score * w // w_tot) AS BIGINT) // 1000
         |    AS score
         |  FROM $g JOIN $prev ON $g.src = $prev.pk GROUP BY dst)"""
        .stripMargin
    def chain(tag: String, g: String, init: String): String =
      (1 to rr).map(k =>
        round(s"$tag$k", g, if (k == 1) init else s"$tag${k - 1}"))
        .mkString(",\n")
    def dist(name: String, cur: String, prev: String): String =
      s"""$name AS (SELECT CAST(sum(abs(x.score - r.score)) AS BIGINT) AS l1,
         |  CAST(sum(CASE WHEN x.score <> r.score THEN 1 ELSE 0 END)
         |    AS BIGINT) AS nd
         |  FROM $cur x JOIN $prev r ON x.pk = r.pk)""".stripMargin
    val dists = (1 to rr).flatMap(r => Seq(
      dist(s"dc$r", s"c$r", s"c${r - 1}"),
      dist(s"dw$r", s"w$r", s"w${r - 1}"))).mkString(",\n")
    val sel = (1 to rr).flatMap(r => Seq(
      s"SELECT 'cold:$r' AS scope, l1 AS delta_l1, nd AS n_moved FROM dc$r",
      s"SELECT 'warm:$r', l1, nd FROM dw$r")).mkString("\nUNION ALL ")
    s"""WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |pr AS MATERIALIZED (SELECT a.pk AS p1, b.pk AS p2,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |eo AS (SELECT p1 AS src, p2 AS dst, w FROM pr
       |  UNION ALL SELECT p2, p1, w FROM pr),
       |go AS MATERIALIZED (SELECT eo.src, eo.dst, eo.w, wt.w_tot
       |  FROM eo JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS w_tot
       |    FROM eo GROUP BY src) wt USING (src)),
       |anch AS (SELECT CAST(-39501 AS BIGINT) AS p1, pk AS p2,
       |    CAST(2 AS BIGINT) AS w
       |  FROM (SELECT DISTINCT src AS pk FROM eo) WHERE pk % 500 = 0),
       |prn AS MATERIALIZED (SELECT * FROM pr
       |  UNION ALL SELECT * FROM (VALUES
       |    $plants) v(p1, p2, w)
       |  UNION ALL SELECT * FROM anch),
       |en AS (SELECT p1 AS src, p2 AS dst, w FROM prn
       |  UNION ALL SELECT p2, p1, w FROM prn),
       |gn AS MATERIALIZED (SELECT en.src, en.dst, en.w, wt.w_tot
       |  FROM en JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS w_tot
       |    FROM en GROUP BY src) wt USING (src)),
       |o0 AS (SELECT DISTINCT src AS pk, CAST(1000000 AS BIGINT) AS score
       |  FROM eo),
       |${chain("o", "go", "o0")},
       |c0 AS MATERIALIZED (SELECT DISTINCT src AS pk,
       |    CAST(1000000 AS BIGINT) AS score FROM en),
       |${chain("c", "gn", "c0")},
       |w0 AS (SELECT n.pk, coalesce(o$rr.score, 1000000) AS score
       |  FROM c0 n LEFT JOIN o$rr ON o$rr.pk = n.pk),
       |${chain("w", "gn", "w0")},
       |$dists,
       |zr AS (SELECT CAST(sum(score) AS BIGINT) AS l1,
       |    CAST(count(*) AS BIGINT) AS nd FROM c$rr)
       |SELECT * FROM (
       |$sel
       |UNION ALL SELECT 'z_ref', l1, nd FROM zr)
       |ORDER BY scope""".stripMargin
  }

  /** q394's oracle: the q291 middle-square assignments, the crash
    * filter, and the shared exact-until-one-floor χ² ladder per leg. */
  private def q394OracleSql: String = {
    def fp(salt: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split('$salt:' || CAST(k AS VARCHAR), ''),
         |    c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)""".stripMargin
    def msq(salt: String, m: Int): String =
      s"((${fp(salt)} * ${fp(salt)}) // 65536) % $m"
    def x2(tag: String, na: String, nb: String, p: Long): String = {
      val q = 1000000L - p
      s"""SELECT '$tag' AS scope, $na AS n_a, $nb AS n_b,
         |  CAST($p AS BIGINT) AS intended_a_ppm,
         |  ((($na * 1000000 - ($na + $nb) * $p) // 1000) *
         |   (($na * 1000000 - ($na + $nb) * $p) // 1000))
         |    // (($na + $nb) * ${p / 1000L}) +
         |  ((($nb * 1000000 - ($na + $nb) * $q) // 1000) *
         |   (($nb * 1000000 - ($na + $nb) * $q) // 1000))
         |    // (($na + $nb) * ${q / 1000L}) AS x2_milli,
         |  CAST(0 AS BIGINT) AS srm FROM ag""".stripMargin
    }
    s"""WITH b AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
       |asg AS MATERIALIZED (SELECT k,
       |    ${msq("exp1", 2)} AS arm1,
       |    CASE WHEN ${msq("exp9", 10)} = 0 THEN 1 ELSE 0 END AS arm9,
       |    ${msq("crash", 6)} AS crash
       |  FROM b),
       |ag AS MATERIALIZED (SELECT
       |    CAST(sum(CASE WHEN arm1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ha,
       |    CAST(sum(CASE WHEN arm1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hb,
       |    CAST(sum(CASE WHEN arm1 = 1 AND crash <> 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cb,
       |    CAST(sum(CASE WHEN arm9 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sa,
       |    CAST(sum(CASE WHEN arm9 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS sb
       |  FROM asg)
       |SELECT scope, n_a, n_b, intended_a_ppm, x2_milli,
       |  CAST(CASE WHEN x2_milli > 3841 THEN 1 ELSE 0 END AS BIGINT) AS srm
       |FROM (
       |${x2("1_even_healthy", "ha", "hb", 500000L)}
       |UNION ALL ${x2("2_even_crashed", "ha", "cb", 500000L)}
       |UNION ALL ${x2("3_skew_healthy", "sa", "sb", 900000L)})
       |ORDER BY scope""".stripMargin
  }

  /** q393's oracle: the q279 square-high position hash, counter build
    * and delete subtraction as sum folds, per-key min-counter probes on
    * all four legs, and the overflow/max-counter filter row. */
  private def q393OracleSql: String = {
    val m = 16384L
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''),
         |    c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)""".stripMargin
    s"""WITH keys AS MATERIALIZED (SELECT DISTINCT CAST(c_custkey AS BIGINT)
       |    AS key FROM customer WHERE c_custkey % 5 = 0),
       |del AS MATERIALIZED (SELECT key FROM keys WHERE key % 7 = 3),
       |pos AS MATERIALIZED (SELECT k.key, t.j,
       |    (${fp("CAST(k.key AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)")}
       |     * ${fp("CAST(k.key AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)")}
       |     // 65536) % $m AS h
       |  FROM keys k CROSS JOIN generate_series(0, 2) t(j)),
       |apos AS MATERIALIZED (SELECT k.key + 10000000 AS key, t.j,
       |    (${fp("CAST(k.key + 10000000 AS VARCHAR) || ':' || " +
                  "CAST(t.j AS VARCHAR)")}
       |     * ${fp("CAST(k.key + 10000000 AS VARCHAR) || ':' || " +
                  "CAST(t.j AS VARCHAR)")}
       |     // 65536) % $m AS h
       |  FROM keys k CROSS JOIN generate_series(0, 2) t(j)),
       |cells AS MATERIALIZED (SELECT h, CAST(count(*) AS BIGINT) AS cnt
       |  FROM pos GROUP BY h),
       |after AS MATERIALIZED (SELECT c.h,
       |    c.cnt - coalesce(d.dcnt, 0) AS cnt
       |  FROM cells c LEFT JOIN (SELECT h, CAST(count(*) AS BIGINT) AS dcnt
       |    FROM pos JOIN del USING (key) GROUP BY h) d ON c.h = d.h
       |  WHERE c.cnt - coalesce(d.dcnt, 0) > 0),
       |pb AS (SELECT p.key, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS mc
       |  FROM pos p LEFT JOIN cells c ON p.h = c.h GROUP BY p.key),
       |pa AS MATERIALIZED (SELECT p.key,
       |    CAST(min(coalesce(a.cnt, 0)) AS BIGINT) AS mc
       |  FROM pos p LEFT JOIN after a ON p.h = a.h GROUP BY p.key),
       |ab AS (SELECT p.key, CAST(min(coalesce(a.cnt, 0)) AS BIGINT) AS mc
       |  FROM apos p LEFT JOIN after a ON p.h = a.h GROUP BY p.key),
       |l1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN mc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS h
       |  FROM pb),
       |l2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN mc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS h
       |  FROM pa WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.key = pa.key)),
       |l3 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN mc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS h
       |  FROM pa WHERE EXISTS (SELECT 1 FROM del WHERE del.key = pa.key)),
       |l4 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN mc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS h
       |  FROM ab),
       |fr AS (SELECT CAST(max(cnt) AS BIGINT) AS mx,
       |    CAST(sum(CASE WHEN cnt >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS ov
       |  FROM cells)
       |SELECT * FROM (
       |SELECT '0_filter' AS scope,
       |  (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n,
       |  (SELECT CAST(count(*) AS BIGINT) FROM del) AS hits,
       |  (SELECT ov FROM fr) AS rate_ppm, (SELECT mx FROM fr) AS aux
       |UNION ALL SELECT '1_present_before', n, h,
       |  CASE WHEN n = 0 THEN 0 ELSE h * 1000000 // n END, 0 FROM l1
       |UNION ALL SELECT '2_survivors_after', n, h,
       |  CASE WHEN n = 0 THEN 0 ELSE h * 1000000 // n END, 0 FROM l2
       |UNION ALL SELECT '3_deleted_after', n, h,
       |  CASE WHEN n = 0 THEN 0 ELSE h * 1000000 // n END, 0 FROM l3
       |UNION ALL SELECT '4_absent_after', n, h,
       |  CASE WHEN n = 0 THEN 0 ELSE h * 1000000 // n END, 0 FROM l4)
       |ORDER BY scope""".stripMargin
  }

  /** q392's oracle: the same squared-tail 4-way split, exact median
    * slope via a middle-element order statistic, the ⌈(n+1)·0.9⌉-th
    * smallest calibration score for both legs (plant via
    * generate_series) and the test coverage folds. */
  private def q392OracleSql: String = {
    val pn = graft.ops.PipelineOps.ConfPlantN
    val fp =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split('cp:' || CAST(doc_id AS VARCHAR) ||
         |        ':' || CAST(((doc_id % 1000003 + 1000003) % 1000003) *
         |             ((doc_id % 1000003 + 1000003) % 1000003) AS VARCHAR),
         |        ''), c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)"""
        .stripMargin
    s"""WITH b AS MATERIALIZED (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
       |    CAST(length(coalesce(text, '')) AS BIGINT) AS y,
       |    ($fp) % 4 AS sp
       |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
       |tr AS (SELECT y * 1000 // x AS ratio, doc_id FROM b WHERE sp <= 1),
       |trn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
       |sl AS MATERIALIZED (SELECT CAST(ratio AS BIGINT) AS slope FROM (
       |    SELECT ratio, row_number() OVER (ORDER BY ratio, doc_id) AS rn
       |    FROM tr)
       |  WHERE rn = ((SELECT n FROM trn) + 1) // 2),
       |cal AS MATERIALIZED (SELECT b.doc_id,
       |    abs(b.y - (b.x * sl.slope) // 1000) AS sc
       |  FROM b CROSS JOIN sl WHERE b.sp = 2),
       |pl AS (SELECT CAST(-t.i - 1 AS BIGINT) AS doc_id,
       |    abs(1000000 - (10 * sl.slope) // 1000) AS sc
       |  FROM generate_series(0, ${pn - 1}) t(i) CROSS JOIN sl),
       |calp AS MATERIALIZED (SELECT * FROM cal UNION ALL SELECT * FROM pl),
       |qc AS (SELECT CAST(sc AS BIGINT) AS q,
       |    (SELECT CAST(count(*) AS BIGINT) FROM cal) AS n FROM (
       |    SELECT sc, row_number() OVER (ORDER BY sc, doc_id) AS rn FROM cal)
       |  WHERE rn = (9 * ((SELECT count(*) FROM cal) + 1) + 9) // 10),
       |qp AS (SELECT CAST(sc AS BIGINT) AS q,
       |    (SELECT CAST(count(*) AS BIGINT) FROM calp) AS n FROM (
       |    SELECT sc, row_number() OVER (ORDER BY sc, doc_id) AS rn FROM calp)
       |  WHERE rn = (9 * ((SELECT count(*) FROM calp) + 1) + 9) // 10),
       |te AS MATERIALIZED (SELECT abs(b.y - (b.x * sl.slope) // 1000) AS sc
       |  FROM b CROSS JOIN sl WHERE b.sp = 3),
       |cov AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN te.sc <= (SELECT q FROM qc) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cc,
       |    CAST(sum(CASE WHEN te.sc <= (SELECT q FROM qp) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cp
       |  FROM te)
       |SELECT * FROM (
       |SELECT '0_model' AS scope, (SELECT n FROM trn) AS n,
       |  (SELECT slope FROM sl) AS slope_milli, CAST(0 AS BIGINT) AS qhat,
       |  CAST(0 AS BIGINT) AS covered, CAST(0 AS BIGINT) AS coverage_ppm
       |UNION ALL SELECT '1_clean_cal', (SELECT n FROM qc),
       |  (SELECT slope FROM sl), (SELECT q FROM qc), 0, 0
       |UNION ALL SELECT '2_clean_test', (SELECT n FROM cov),
       |  (SELECT slope FROM sl), (SELECT q FROM qc), (SELECT cc FROM cov),
       |  (SELECT cc FROM cov) * 1000000 // (SELECT n FROM cov)
       |UNION ALL SELECT '3_polluted_cal', (SELECT n FROM qp),
       |  (SELECT slope FROM sl), (SELECT q FROM qp), 0, 0
       |UNION ALL SELECT '4_polluted_test', (SELECT n FROM cov),
       |  (SELECT slope FROM sl), (SELECT q FROM qp), (SELECT cp FROM cov),
       |  (SELECT cp FROM cov) * 1000000 // (SELECT n FROM cov))
       |ORDER BY scope""".stripMargin
  }

  /** q391's oracle: the q213 shingle text over the mod-200 pool, eight
    * unrolled greedy rounds (NOT EXISTS against the picked docs and
    * their covered grams, argmax with the doc_id tie), and both
    * baselines re-selected independently. */
  private def q391OracleSql: String = {
    val kk = graft.ops.CorpusOps.CoverK
    val rounds = (1 to kk).map { k =>
      s"""g$k AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS gain
         |  FROM ent e
         |  WHERE NOT EXISTS (SELECT 1 FROM p${k - 1} p WHERE p.d = e.doc_id)
         |    AND NOT EXISTS (SELECT 1 FROM ent e2 JOIN p${k - 1} p
         |      ON e2.doc_id = p.d WHERE e2.g = e.g)
         |  GROUP BY e.doc_id),
         |s$k AS (SELECT doc_id AS d, gain, $k AS rnd FROM g$k
         |  ORDER BY gain DESC, doc_id LIMIT 1),
         |p$k AS MATERIALIZED (SELECT d FROM p${k - 1}
         |  UNION ALL SELECT d FROM s$k)""".stripMargin
    }.mkString(",\n")
    val sList = (1 to kk).map(k => s"SELECT * FROM s$k")
      .mkString("\nUNION ALL ")
    s"""WITH docs0 AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3
       |    AND doc_id % greatest(1,
       |      (SELECT count(*) FROM documents) // 200) = 0),
       |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles
       |  FROM docs0),
       |hs AS (SELECT doc_id, list_distinct(list_transform(shingles,
       |    s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(s, ''), c -> CAST(ascii(c)
       |        AS BIGINT))), $FpByteFold))) AS h
       |  FROM sh),
       |ent AS MATERIALIZED (SELECT doc_id, unnest(h) AS g FROM hs),
       |p0 AS (SELECT CAST(NULL AS BIGINT) AS d WHERE 1 = 0),
       |$rounds,
       |gr AS MATERIALIZED ($sList),
       |uni AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS u FROM ent),
       |gcov AS (SELECT CAST(count(DISTINCT e.g) AS BIGINT) AS c
       |  FROM ent e JOIN p$kk p ON e.doc_id = p.d),
       |siz AS MATERIALIZED (SELECT e.doc_id,
       |    CAST(count(*) AS BIGINT) AS n,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split('cov:' ||
       |        CAST(e.doc_id AS VARCHAR) || ':' ||
       |        CAST(((e.doc_id % 1000003 + 1000003) % 1000003) *
       |             ((e.doc_id % 1000003 + 1000003) % 1000003) AS VARCHAR),
       |        ''), c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS sk
       |  FROM ent e GROUP BY e.doc_id),
       |rnd8 AS (SELECT doc_id FROM siz ORDER BY sk, doc_id LIMIT $kk),
       |lng8 AS (SELECT doc_id FROM siz ORDER BY n DESC, doc_id LIMIT $kk),
       |rcov AS (SELECT CAST(count(DISTINCT e.g) AS BIGINT) AS c
       |  FROM ent e JOIN rnd8 r ON e.doc_id = r.doc_id),
       |lcov AS (SELECT CAST(count(DISTINCT e.g) AS BIGINT) AS c
       |  FROM ent e JOIN lng8 l ON e.doc_id = l.doc_id)
       |SELECT * FROM (
       |SELECT 'g' || CAST(rnd AS VARCHAR) AS scope, d AS doc_id, gain,
       |  CAST(sum(gain) OVER (ORDER BY rnd) AS BIGINT) AS covered,
       |  CAST(sum(gain) OVER (ORDER BY rnd) AS BIGINT) * 1000000
       |    // (SELECT u FROM uni) AS covered_ppm
       |FROM gr
       |UNION ALL SELECT 'z_greedy', 0, 0, (SELECT c FROM gcov),
       |  (SELECT c FROM gcov) * 1000000 // (SELECT u FROM uni)
       |UNION ALL SELECT 'z_longest', 0, 0, (SELECT c FROM lcov),
       |  (SELECT c FROM lcov) * 1000000 // (SELECT u FROM uni)
       |UNION ALL SELECT 'z_random', 0, 0, (SELECT c FROM rcov),
       |  (SELECT c FROM rcov) * 1000000 // (SELECT u FROM uni)
       |UNION ALL SELECT 'z_universe', 0, 0, (SELECT u FROM uni), 1000000)
       |ORDER BY scope""".stripMargin
  }

  /** q390's oracle: the mod-200 sample, IEEE-sqrt milli norms, the same
    * squared-tail entry coin, weighted kept-pair contributions and the
    * exact co-occurrence truth leg. */
  private def q390OracleSql: String = {
    val sg = graft.ops.DedupOps.DimsumSgScaled
    val fp =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split('ds:' || w || ':' ||
         |        CAST(doc_id AS VARCHAR) || ':' ||
         |        CAST(((doc_id % 1000003 + 1000003) % 1000003) *
         |             ((doc_id % 1000003 + 1000003) % 1000003) AS VARCHAR),
         |        ''), c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)"""
        .stripMargin
    s"""WITH d0 AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS dw
       |  FROM documents
       |  WHERE doc_id % greatest(1,
       |    (SELECT count(*) FROM documents) // 200) = 0
       |    AND len(list_distinct(string_split(text, ' '))) >= 1),
       |dn AS (SELECT doc_id,
       |    CAST(floor(sqrt(CAST(len(dw) * 1000000 AS DOUBLE))) AS BIGINT)
       |      AS nm, dw
       |  FROM d0),
       |ent AS MATERIALIZED (SELECT doc_id, nm,
       |    least(1000000, $sg // nm) AS p, unnest(dw) AS w
       |  FROM dn),
       |ek AS MATERIALIZED (SELECT doc_id, nm, p, w,
       |    ($fp % 1000000) < p AS kept
       |  FROM ent),
       |ex AS MATERIALIZED (SELECT a.w, a.doc_id AS d1, b.doc_id AS d2,
       |    a.nm AS nm1, b.nm AS nm2, a.p AS p1, b.p AS p2,
       |    a.kept AS kept1, b.kept AS kept2
       |  FROM ek a JOIN ek b ON a.w = b.w AND a.doc_id < b.doc_id),
       |exact AS (SELECT d1, d2, nm1, nm2,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM ex GROUP BY d1, d2, nm1, nm2),
       |est AS (SELECT d1, d2, CAST(count(*) AS BIGINT) AS n_emitted,
       |    CAST(sum(1000000000000000000 // (p1 * p2)) AS BIGINT) AS dotmic
       |  FROM ex WHERE kept1 AND kept2 GROUP BY d1, d2),
       |per AS MATERIALIZED (SELECT coalesce(e.n_emitted, 0) AS n_emitted,
       |    x.inter * 1000000000000 // (x.nm1 * x.nm2) AS exact_cos,
       |    coalesce(e.dotmic, 0) * 1000000 // (x.nm1 * x.nm2) AS est_cos
       |  FROM exact x LEFT JOIN est e ON x.d1 = e.d1 AND x.d2 = e.d2),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(abs(est_cos - exact_cos)) AS BIGINT) AS sa,
       |    CAST(sum(est_cos - exact_cos) AS BIGINT) AS ss,
       |    CAST(sum(n_emitted) AS BIGINT) AS em
       |  FROM per),
       |xm AS (SELECT CAST(count(*) AS BIGINT) AS xe FROM ex)
       |SELECT * FROM (
       |SELECT '1_exact' AS scope, n AS n_pairs,
       |  (SELECT xe FROM xm) AS emitted_contribs,
       |  CAST(0 AS BIGINT) AS mae_ppm, CAST(0 AS BIGINT) AS bias_sum_ppm
       |FROM ag
       |UNION ALL SELECT '2_dimsum', n, em, sa // n, ss FROM ag)
       |ORDER BY scope""".stripMargin
  }

  /** q389's oracle: the pixel formula replayed (lossless codec rule),
    * the 4-bit histogram, THREE unrolled median-cut rounds under the
    * identical split rule (longest axis, ⌈W/2⌉ cumulative-weight
    * coordinate, step-down-at-max adjustment), palette means, and an
    * independent nearest-entry assignment with exact SSE. */
  private def q389OracleSql: String = {
    def chan(c: String): String =
      s"""(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(CAST(d.doc_id AS VARCHAR) || ':' ||
         |      CAST(ij.i AS VARCHAR) || ':' || CAST(ij.j AS VARCHAR) ||
         |      ':$c', ''), ch -> CAST(ascii(ch) AS BIGINT))), $FpByteFold))"""
        .stripMargin
    def sq(c: String): String = s"(($c * $c % 1000000007) % 256)"
    def round(k: Int): String = {
      val p = k - 1
      s"""st$k AS (SELECT box, max(cr) - min(cr) AS rr,
         |    max(cg) - min(cg) AS rg, max(cb) - min(cb) AS rb,
         |    CAST(sum(w) AS BIGINT) AS tw
         |  FROM b$p GROUP BY box),
         |ax$k AS (SELECT box, tw,
         |    CASE WHEN rr >= rg AND rr >= rb THEN 0
         |         WHEN rg >= rb THEN 1 ELSE 2 END AS ax
         |  FROM st$k),
         |cx$k AS (SELECT c.cr, c.cg, c.cb, c.w, c.box, a.tw,
         |    CASE a.ax WHEN 0 THEN c.cr WHEN 1 THEN c.cg ELSE c.cb END
         |      AS coord
         |  FROM b$p c JOIN ax$k a USING (box)),
         |cw$k AS (SELECT box, coord, CAST(sum(w) AS BIGINT) AS cw,
         |    CAST(min(tw) AS BIGINT) AS tw
         |  FROM cx$k GROUP BY box, coord),
         |cc$k AS (SELECT box, coord, tw,
         |    sum(cw) OVER (PARTITION BY box ORDER BY coord) AS cum
         |  FROM cw$k),
         |spa$k AS (SELECT box,
         |    min(CASE WHEN cum >= (tw + 1) // 2 THEN coord END) AS sraw,
         |    min(coord) AS mn, max(coord) AS mx
         |  FROM cc$k GROUP BY box),
         |sp$k AS (SELECT a.box,
         |    CASE WHEN a.sraw = a.mx AND a.mx > a.mn
         |      THEN (SELECT max(coord) FROM cw$k w2
         |            WHERE w2.box = a.box AND w2.coord < a.mx)
         |      ELSE a.sraw END AS s
         |  FROM spa$k a),
         |b$k AS (SELECT c.cr, c.cg, c.cb, c.w,
         |    c.box * 2 + CASE WHEN c.coord > p.s THEN 1 ELSE 0 END AS box
         |  FROM cx$k c JOIN sp$k p USING (box))""".stripMargin
    }
    s"""WITH ij AS (SELECT i.i, j.j FROM generate_series(0, 15) i(i)
       |  CROSS JOIN generate_series(0, 15) j(j)),
       |px AS MATERIALIZED (SELECT d.doc_id, ij.i, ij.j,
       |    ${sq(chan("r"))} AS r, ${sq(chan("g"))} AS g,
       |    ${sq(chan("b"))} AS b
       |  FROM documents d CROSS JOIN ij),
       |cells AS (SELECT r // 16 AS cr, g // 16 AS cg, b // 16 AS cb,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM px GROUP BY 1, 2, 3),
       |b0 AS (SELECT cr, cg, cb, w, 0 AS box FROM cells),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |pal AS (SELECT box,
       |    CAST(sum(w * (cr * 16 + 8)) // sum(w) AS BIGINT) AS pr,
       |    CAST(sum(w * (cg * 16 + 8)) // sum(w) AS BIGINT) AS pg,
       |    CAST(sum(w * (cb * 16 + 8)) // sum(w) AS BIGINT) AS pb
       |  FROM b3 GROUP BY box),
       |pal8 AS MATERIALIZED (SELECT k.k AS box, coalesce(pr, 0) AS pr,
       |    coalesce(pg, 0) AS pg, coalesce(pb, 0) AS pb
       |  FROM generate_series(0, 7) k(k) LEFT JOIN pal ON pal.box = k.k),
       |ad AS (SELECT p.doc_id, p.i, p.j, e.box,
       |    (p.r - e.pr) * (p.r - e.pr) + (p.g - e.pg) * (p.g - e.pg) +
       |      (p.b - e.pb) * (p.b - e.pb) AS d
       |  FROM px p CROSS JOIN pal8 e),
       |asg AS (SELECT box, d, row_number() OVER (
       |    PARTITION BY doc_id, i, j ORDER BY d, box) AS rn FROM ad),
       |a1 AS (SELECT box, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS sse
       |  FROM asg WHERE rn = 1 GROUP BY box),
       |fin AS MATERIALIZED (SELECT p8.box, p8.pr, p8.pg, p8.pb,
       |    coalesce(a1.n, 0) AS n, coalesce(a1.sse, 0) AS sse
       |  FROM pal8 p8 LEFT JOIN a1 USING (box)),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
       |    CAST(sum(sse) AS BIGINT) AS st FROM fin)
       |SELECT * FROM (
       |SELECT 'pal:' || CAST(box AS VARCHAR) AS scope,
       |  CAST(pr AS BIGINT) AS pal_r, CAST(pg AS BIGINT) AS pal_g,
       |  CAST(pb AS BIGINT) AS pal_b, n AS n_pixels,
       |  CAST(sse AS BIGINT) AS sse
       |FROM fin
       |UNION ALL SELECT 'z_total', 0, 0, 0, nt, st * 1000 // nt FROM tot)
       |ORDER BY scope""".stripMargin
  }

  /** q388's oracle: year-pivoted pairs, the SAME squared-tail sign fold
    * the q369 sketch uses (one definition), both MC legs off one
    * replicate table, and the 2¹²-mask exact enumerations over the
    * plant literals. */
  private def q388OracleSql: String = {
    val r = graft.ops.PipelineOps.SfReps
    val shift = graft.ops.PipelineOps.SfShiftCents
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''),
         |    c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)""".stripMargin
    def plant(name: String, ds: Seq[Long]): String = {
      val lit = ds.mkString("[", ", ", "]")
      s"""pl$name AS (SELECT $lit AS dl),
         |en$name AS (SELECT
         |    CAST((SELECT list_sum(dl) FROM pl$name) AS BIGINT) AS t0,
         |    CAST(count(*) AS BIGINT) AS e
         |  FROM pl$name CROSS JOIN generate_series(0, 4095) g(m)
         |  WHERE abs(list_sum(list_transform(generate_series(0, 11),
         |      i -> CASE WHEN (m // (1 << i)) % 2 = 1 THEN -dl[i+1]
         |           ELSE dl[i+1] END))) >= abs(list_sum(dl)))"""
        .stripMargin
    }
    s"""WITH by AS (SELECT CAST(o_custkey AS BIGINT) AS c,
       |    CAST(year(o_orderdate) AS BIGINT) AS y,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
       |ag AS (SELECT c, y, CAST(sum(cents) AS BIGINT) AS v
       |  FROM by GROUP BY c, y),
       |pairs AS MATERIALIZED (SELECT a.c, b.v - a.v AS d
       |  FROM ag a JOIN ag b ON a.c = b.c AND a.y = 1995 AND b.y = 1996),
       |fk AS (SELECT c, d, ${fp("CAST(c AS VARCHAR)")} AS fpk FROM pairs),
       |sg AS (SELECT t.r, fk.d,
       |    CASE WHEN (${fp(
              "'sfp:' || CAST(t.r AS VARCHAR) || ':' || CAST(fk.c AS VARCHAR)" +
              " || ':' || CAST((fk.fpk % 1000003) * (fk.fpk % 1000003)" +
              " AS VARCHAR)")}
       |      // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM fk CROSS JOIN generate_series(0, ${r - 1}) t(r)),
       |ts AS MATERIALIZED (SELECT r, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(s * d) AS BIGINT) AS t,
       |    CAST(sum(s * (d + $shift)) AS BIGINT) AS tsh
       |  FROM sg GROUP BY r),
       |ob AS (SELECT CAST(sum(d) AS BIGINT) AS t0,
       |    CAST(count(*) AS BIGINT) AS np FROM pairs),
       |m3 AS (SELECT CAST(count(*) AS BIGINT) AS e FROM ts CROSS JOIN ob
       |  WHERE abs(t) >= abs(t0)),
       |m4 AS (SELECT CAST(count(*) AS BIGINT) AS e FROM ts CROSS JOIN ob
       |  WHERE abs(tsh) >= abs(t0 + np * $shift)),
       |${plant("1", graft.ops.PipelineOps.SfPlantShifted)},
       |${plant("2", graft.ops.PipelineOps.SfPlantNull)}
       |SELECT * FROM (
       |SELECT '1_plant_exact' AS scope, CAST(12 AS BIGINT) AS n_pairs,
       |  t0 AS t_obs, e AS n_extreme, CAST(4096 AS BIGINT) AS n_total,
       |  e * 1000000 // 4096 AS p_ppm FROM en1
       |UNION ALL SELECT '2_plant_null_exact', 12, t0, e, 4096,
       |  e * 1000000 // 4096 FROM en2
       |UNION ALL SELECT '3_corpus_mc', (SELECT np FROM ob),
       |  (SELECT t0 FROM ob), (SELECT e FROM m3), $r,
       |  ((SELECT e FROM m3) + 1) * 1000000 // ${r + 1}
       |UNION ALL SELECT '4_corpus_shifted_mc', (SELECT np FROM ob),
       |  (SELECT t0 + np * $shift FROM ob), (SELECT e FROM m4), $r,
       |  ((SELECT e FROM m4) + 1) * 1000000 // ${r + 1})
       |ORDER BY scope""".stripMargin
  }

  /** q387's oracle: the same per-stream lag window (epoch_us), zigzag +
    * varint band ladder, first-row 8-byte rule and the per-segment
    * byte/ratio/zero/one-byte roll-up, plant generated in-query. */
  private def q387OracleSql: String = {
    def zz(c: String) = s"(CASE WHEN $c >= 0 THEN 2 * $c ELSE -2 * $c - 1 END)"
    def vb(c: String) =
      s"""(CASE WHEN $c < 128 THEN 1 WHEN $c < 16384 THEN 2
         | WHEN $c < 2097152 THEN 3 WHEN $c < 268435456 THEN 4
         | WHEN $c < 34359738368 THEN 5 WHEN $c < 4398046511104 THEN 6
         | WHEN $c < 562949953421312 THEN 7
         | WHEN $c < 72057594037927936 THEN 8 ELSE 9 END)""".stripMargin
    s"""WITH base AS (
       |  SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS us,
       |    CAST(event_id AS BIGINT) AS event_id, 'corpus' AS segment
       |  FROM events
       |  UNION ALL
       |  SELECT CAST(-387 AS BIGINT), 1700000000000000 + i * 1000000,
       |    -38700 - i, 'plant'
       |  FROM generate_series(0, 63) t(i)),
       |l1 AS (SELECT segment, user_id, us, event_id,
       |    us - lag(us) OVER w AS d1
       |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |lagged AS (SELECT segment, d1, d1 - lag(d1) OVER w AS d2
       |  FROM l1 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |bytes AS (SELECT segment,
       |    CASE WHEN d1 IS NULL THEN 8 ELSE ${vb(zz("d1"))} END AS b_delta,
       |    CASE WHEN d1 IS NULL THEN 8
       |      WHEN d2 IS NULL THEN ${vb(zz("d1"))}
       |      ELSE ${vb(zz("d2"))} END AS b_dd,
       |    CASE WHEN d1 = 0 THEN 1 ELSE 0 END AS z1,
       |    CASE WHEN d2 = 0 THEN 1 ELSE 0 END AS z2
       |  FROM lagged),
       |ag AS MATERIALIZED (SELECT segment, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(b_delta) AS BIGINT) AS bd,
       |    CAST(sum(b_dd) AS BIGINT) AS bdd,
       |    CAST(sum(z1) AS BIGINT) AS nz1, CAST(sum(z2) AS BIGINT) AS nz2,
       |    CAST(sum(CASE WHEN b_delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ob1,
       |    CAST(sum(CASE WHEN b_dd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ob2
       |  FROM bytes GROUP BY segment)
       |SELECT * FROM (
       |SELECT '1_raw:' || segment AS scope, n AS n_rows,
       |  8 * n AS total_bytes, CAST(1000000 AS BIGINT) AS ratio_ppm,
       |  CAST(0 AS BIGINT) AS n_zero, CAST(0 AS BIGINT) AS n_one_byte
       |FROM ag
       |UNION ALL SELECT '2_delta_zigzag:' || segment, n, bd,
       |  bd * 1000000 // (8 * n), nz1, ob1 FROM ag
       |UNION ALL SELECT '3_delta_of_delta:' || segment, n, bdd,
       |  bdd * 1000000 // (8 * n), nz2, ob2 FROM ag)
       |ORDER BY scope""".stripMargin
  }

  /** q386's oracle: the sorted value list from a distinct subquery, the
    * same squared-tail per-row coin, the flip-target index arithmetic,
    * both histograms, and the clamped debias division (nonneg on both
    * engines, so // ≡ div). */
  private def q386OracleSql: String = {
    val p = graft.ops.PipelineOps.RrKeepPpm
    val sq = "((doc_id % 1000003 + 1000003) % 1000003)"
    val fp =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split('rr:' || CAST(doc_id AS VARCHAR) ||
         |        ':' || CAST($sq * $sq AS VARCHAR), ''),
         |        c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)""".stripMargin
    s"""WITH ls AS (SELECT list(lang ORDER BY lang) AS ls
       |  FROM (SELECT DISTINCT lang FROM documents)),
       |par AS (SELECT CAST(len(ls) AS BIGINT) AS k FROM ls),
       |rr AS (SELECT CASE WHEN f % 1000000 < $p THEN lang
       |    ELSE ls[CAST((own + 1 + (f // 1000000) % (k - 1)) % k AS INT) + 1]
       |    END AS rep
       |  FROM (SELECT d.lang, ls.ls, par.k,
       |      CAST(list_position(ls.ls, d.lang) AS BIGINT) - 1 AS own,
       |      $fp AS f
       |    FROM documents d CROSS JOIN ls CROSS JOIN par)),
       |obs AS (SELECT rep AS lang, CAST(count(*) AS BIGINT) AS n_obs
       |  FROM rr GROUP BY rep),
       |tru AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_true
       |  FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |qp AS (SELECT 250000 // (k - 1) AS q, k FROM par),
       |per AS MATERIALIZED (SELECT t.lang, t.n_true,
       |    coalesce(o.n_obs, 0) AS n_obs,
       |    CAST(CASE WHEN coalesce(o.n_obs, 0) * 1000000 - n * q <= 0 THEN 0
       |      ELSE (coalesce(o.n_obs, 0) * 1000000 - n * q) // ($p - q)
       |      END AS BIGINT) AS n_est
       |  FROM tru t LEFT JOIN obs o USING (lang)
       |  CROSS JOIN tot CROSS JOIN qp)
       |SELECT * FROM (
       |SELECT 'lang:' || lang AS scope, n_true, n_obs, n_est,
       |  abs(n_est - n_true) AS err_abs FROM per
       |UNION ALL SELECT 'z_total', (SELECT n FROM tot),
       |  CAST(sum(n_obs) AS BIGINT), CAST(sum(n_est) AS BIGINT),
       |  CAST(sum(abs(n_est - n_true)) AS BIGINT) FROM per)
       |ORDER BY scope""".stripMargin
  }

  /** q385's oracle: the q213 shingle/fingerprint/12-perm text with the
    * mod-200 sample, the single-permutation bins, the -1-sentinel BIGINT
    * densification fold (plain BIGINT accumulator — the list_reduce
    * struct bug cannot bite), and the three per-pair estimators vs
    * exact Jaccard. */
  private def q385OracleSql: String = {
    val m = graft.ops.DedupOps.OphBins
    val c = graft.ops.DedupOps.OphWrapC
    def est(pred: String): String =
      s"len(list_filter(generate_series(1, $m), i -> $pred))"
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |    WHERE len(string_split(text, ' ')) >= 3
       |      AND doc_id % greatest(1, (SELECT count(*) FROM documents) // 200) = 0),
       |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
       |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
       |hs AS (SELECT doc_id, list_transform(shingles,
       |         s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |                          $FpByteFold)) AS h FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id,
       |    CAST(len(h) AS BIGINT) AS n_sh,
       |    list_distinct(h) AS ss, [
       |  list_min(list_transform(h, x -> (3 * x + 1) % 1000000007)),
       |  list_min(list_transform(h, x -> (7 * x + 5) % 1000000007)),
       |  list_min(list_transform(h, x -> (11 * x + 13) % 1000000007)),
       |  list_min(list_transform(h, x -> (17 * x + 29) % 1000000007)),
       |  list_min(list_transform(h, x -> (23 * x + 37) % 1000000007)),
       |  list_min(list_transform(h, x -> (31 * x + 43) % 1000000007)),
       |  list_min(list_transform(h, x -> (41 * x + 53) % 1000000007)),
       |  list_min(list_transform(h, x -> (47 * x + 61) % 1000000007)),
       |  list_min(list_transform(h, x -> (59 * x + 71) % 1000000007)),
       |  list_min(list_transform(h, x -> (67 * x + 79) % 1000000007)),
       |  list_min(list_transform(h, x -> (73 * x + 89) % 1000000007)),
       |  list_min(list_transform(h, x -> (83 * x + 101) % 1000000007))] AS sig,
       |    list_transform(generate_series(0, ${m - 1}), j ->
       |      list_min(list_transform(
       |        list_filter(list_transform(h, x -> (3 * x + 1) % 1000000007),
       |          u -> u % $m = j), u -> u // $m))) AS bins
       |  FROM hs),
       |dn AS MATERIALIZED (SELECT doc_id, n_sh, ss, sig, bins,
       |    list_transform(generate_series(0, ${m - 1}), j ->
       |      list_reduce(list_prepend(CAST(-1 AS BIGINT),
       |        list_transform(generate_series(0, ${m - 1}),
       |          t -> CAST(t AS BIGINT))),
       |        (acc, t) -> CASE WHEN acc >= 0 THEN acc
       |          WHEN bins[CAST((j + t) % $m AS INT) + 1] IS NOT NULL
       |            THEN bins[CAST((j + t) % $m AS INT) + 1] + t * $c
       |          ELSE CAST(-1 AS BIGINT) END)) AS dens
       |  FROM sig),
       |pr AS MATERIALIZED (SELECT
       |    CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) * 1000000
       |      // CAST(len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))
       |        AS BIGINT) AS jacc,
       |    CAST(${est("a.sig[i] = b.sig[i]")} AS BIGINT) * 1000000 // $m
       |      AS est1,
       |    CAST(${est("a.bins[i] IS NOT NULL AND b.bins[i] IS NOT NULL")}
       |      AS BIGINT) AS nb,
       |    CAST(${est("a.bins[i] IS NOT NULL AND b.bins[i] IS NOT NULL " +
                       "AND a.bins[i] = b.bins[i]")} AS BIGINT) AS m2,
       |    CAST(${est("a.dens[i] = b.dens[i]")} AS BIGINT) * 1000000 // $m
       |      AS est3
       |  FROM dn a JOIN dn b ON a.doc_id < b.doc_id),
       |pe AS (SELECT jacc, est1, est3,
       |    CASE WHEN nb = 0 THEN 0 ELSE m2 * 1000000 // nb END AS est2
       |  FROM pr),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(abs(est1 - jacc)) AS BIGINT) AS a1,
       |    CAST(sum(est1 - jacc) AS BIGINT) AS s1,
       |    CAST(sum(abs(est2 - jacc)) AS BIGINT) AS a2,
       |    CAST(sum(est2 - jacc) AS BIGINT) AS s2,
       |    CAST(sum(abs(est3 - jacc)) AS BIGINT) AS a3,
       |    CAST(sum(est3 - jacc) AS BIGINT) AS s3
       |  FROM pe),
       |dg AS (SELECT CAST(sum(n_sh) AS BIGINT) AS evals,
       |    CAST(sum($m - len(list_filter(bins, x -> x IS NOT NULL)))
       |      AS BIGINT) AS empt
       |  FROM dn)
       |SELECT * FROM (
       |SELECT '1_kperm' AS scope, n AS n_pairs, a1 // n AS mae_ppm,
       |  s1 AS bias_sum_ppm, CAST(0 AS BIGINT) AS n_empty_bins,
       |  12 * (SELECT evals FROM dg) AS hash_evals FROM ag
       |UNION ALL SELECT '2_oph_raw', n, a2 // n, s2,
       |  (SELECT empt FROM dg), (SELECT evals FROM dg) FROM ag
       |UNION ALL SELECT '3_oph_dens', n, a3 // n, s3,
       |  CAST(0 AS BIGINT), (SELECT evals FROM dg) FROM ag)
       |ORDER BY scope""".stripMargin
  }

  /** q379's oracle: the shared NB chain + plant sweep (best_n is the
    * SAME evalBlock q367 uses), confusion rates over the plant, one
    * predicted-positive count per target, and the floor-division BBSE
    * estimator with the clamp/flag on both engines. */
  private def q379OracleSql: String = {
    s"""WITH $nbScoreChainSql,
       |${evalBlock("n", "ps", "ds")},
       |conf AS MATERIALIZED (SELECT
       |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn,
       |    CAST(sum(CASE WHEN y = 1 AND score >= b.t THEN 1 ELSE 0 END)
       |      AS BIGINT) AS k1,
       |    CAST(sum(CASE WHEN y = 0 AND score >= b.t THEN 1 ELSE 0 END)
       |      AS BIGINT) AS k0
       |  FROM ps CROSS JOIN best_n b),
       |rates AS MATERIALIZED (SELECT
       |    k1 * 1000000 // p AS tpr, k0 * 1000000 // nn AS fpr,
       |    p, nn, k1, k0 FROM conf),
       |mc AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN d.score >= b.t THEN 1 ELSE 0 END) AS BIGINT)
       |      AS k
       |  FROM ds d CROSS JOIN best_n b),
       |sc AS (
       |  SELECT '1_plant_self' AS scope, CAST(1 AS BIGINT) AS wp,
       |    CAST(1 AS BIGINT) AS wn, CAST(1 AS BIGINT) AS has_truth
       |  UNION ALL SELECT '2_shift_pos', 3, 1, 1
       |  UNION ALL SELECT '3_shift_neg', 1, 3, 1),
       |sr AS (SELECT sc.scope,
       |    wp * r.p + wn * r.nn AS n_docs,
       |    (wp * r.k1 + wn * r.k0) * 1000000 // (wp * r.p + wn * r.nn)
       |      AS mu_ppm,
       |    wp * r.p * 1000000 // (wp * r.p + wn * r.nn) AS true_prior_ppm,
       |    sc.has_truth
       |  FROM sc CROSS JOIN rates r),
       |al AS (
       |  SELECT scope, n_docs, mu_ppm, true_prior_ppm, has_truth FROM sr
       |  UNION ALL SELECT '4_corpus', mc.n, mc.k * 1000000 // mc.n,
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM mc),
       |est AS (SELECT al.*, r.tpr, r.fpr,
       |    (al.mu_ppm - r.fpr) * 1000000 // (r.tpr - r.fpr) AS raw
       |  FROM al CROSS JOIN rates r)
       |SELECT scope, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(mu_ppm AS BIGINT) AS mu_ppm,
       |  CAST(tpr AS BIGINT) AS tpr_ppm, CAST(fpr AS BIGINT) AS fpr_ppm,
       |  CAST(least(greatest(raw, 0), 1000000) AS BIGINT) AS est_prior_ppm,
       |  CAST(CASE WHEN raw = least(greatest(raw, 0), 1000000) THEN 0
       |    ELSE 1 END AS BIGINT) AS clamped,
       |  CAST(true_prior_ppm AS BIGINT) AS true_prior_ppm,
       |  CAST(CASE WHEN has_truth = 1
       |    THEN abs(least(greatest(raw, 0), 1000000) - true_prior_ppm)
       |    ELSE 0 END AS BIGINT) AS err_ppm,
       |  CAST(has_truth AS BIGINT) AS has_truth
       |FROM est ORDER BY scope""".stripMargin
  }

  /** q380's oracle: the same view / delete-aggregate / dirty-detection /
    * dirty-only-recompute / drop / audit chain in SQL, with the
    * FpByteFold view checksum. */
  private def q380OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    val plantFeed = graft.operators.TransferOps.RetractPlantFeed
      .map { case (ck, ok, c) =>
        s"(CAST($ck AS BIGINT), CAST($ok AS BIGINT), CAST($c AS BIGINT))"
      }.mkString(",\n    ")
    val dels = graft.operators.TransferOps.RetractPlantDeleted.mkString(", ")
    s"""WITH feed AS MATERIALIZED (
       |  SELECT ck, okey, cents,
       |    CASE WHEN (okey > 0 AND okey % 23 = 7) OR okey IN ($dels)
       |      THEN 1 ELSE 0 END AS isdel
       |  FROM (
       |    SELECT CAST(o_custkey AS BIGINT) AS ck,
       |      CAST(o_orderkey AS BIGINT) AS okey,
       |      CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
       |    UNION ALL SELECT * FROM (VALUES
       |    $plantFeed) v(ck, okey, cents))),
       |v0 AS (SELECT ck, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(cents) AS BIGINT) AS sm, min(cents) AS mn,
       |    max(cents) AS mx
       |  FROM feed GROUP BY ck),
       |da AS (SELECT ck, CAST(count(*) AS BIGINT) AS dn,
       |    CAST(sum(cents) AS BIGINT) AS dsm, min(cents) AS dmn,
       |    max(cents) AS dmx
       |  FROM feed WHERE isdel = 1 GROUP BY ck),
       |mg AS MATERIALIZED (SELECT v0.ck, n, sm, mn, mx,
       |    coalesce(dn, 0) AS dn, coalesce(dsm, 0) AS dsm,
       |    n - coalesce(dn, 0) AS n2, sm - coalesce(dsm, 0) AS sm2,
       |    CASE WHEN n - coalesce(dn, 0) > 0 AND dmn = mn
       |      THEN 1 ELSE 0 END AS dirty_mn,
       |    CASE WHEN n - coalesce(dn, 0) > 0 AND dmx = mx
       |      THEN 1 ELSE 0 END AS dirty_mx
       |  FROM v0 LEFT JOIN da USING (ck)),
       |rd AS (SELECT f.ck, min(f.cents) AS rmn, max(f.cents) AS rmx
       |  FROM feed f JOIN (SELECT ck FROM mg
       |    WHERE dirty_mn = 1 OR dirty_mx = 1) d USING (ck)
       |  WHERE f.isdel = 0 GROUP BY f.ck),
       |mt AS MATERIALIZED (SELECT mg.ck, n2 AS n, sm2 AS sm,
       |    CASE WHEN dirty_mn = 1 THEN rmn ELSE mn END AS mn,
       |    CASE WHEN dirty_mx = 1 THEN rmx ELSE mx END AS mx
       |  FROM mg LEFT JOIN rd USING (ck) WHERE n2 > 0),
       |fl AS (SELECT ck, CAST(count(*) AS BIGINT) AS fn,
       |    CAST(sum(cents) AS BIGINT) AS fsm, min(cents) AS fmn,
       |    max(cents) AS fmx
       |  FROM feed WHERE isdel = 0 GROUP BY ck),
       |aud AS (SELECT CAST(sum(CASE WHEN n IS NULL OR fn IS NULL
       |      OR n <> fn OR sm <> fsm OR mn <> fmn OR mx <> fmx
       |    THEN 1 ELSE 0 END) AS BIGINT) AS bad
       |  FROM mt FULL OUTER JOIN fl USING (ck)),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS g0,
       |    CAST(sum(dn) AS BIGINT) AS ndel,
       |    CAST(sum(dirty_mn) AS BIGINT) AS dmin,
       |    CAST(sum(dirty_mx) AS BIGINT) AS dmax,
       |    CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS dropped
       |  FROM mg),
       |vfp AS (SELECT CAST(sum(f) AS BIGINT) AS f FROM (
       |  SELECT ${fp(
            "CAST(ck AS VARCHAR) || '|' || CAST(n AS VARCHAR) || '|' ||" +
            " CAST(sm AS VARCHAR) || '|' || CAST(mn AS VARCHAR) || '|' ||" +
            " CAST(mx AS VARCHAR)")} AS f
       |  FROM mt))
       |SELECT * FROM (
       |SELECT '1_groups_before' AS metric, (SELECT g0 FROM st) AS value
       |UNION ALL SELECT '2_groups_after', (SELECT g0 - dropped FROM st)
       |UNION ALL SELECT '3_rows_deleted', (SELECT ndel FROM st)
       |UNION ALL SELECT '4_dirty_min_groups', (SELECT dmin FROM st)
       |UNION ALL SELECT '5_dirty_max_groups', (SELECT dmax FROM st)
       |UNION ALL SELECT '6_dropped_groups', (SELECT dropped FROM st)
       |UNION ALL SELECT '7_mismatch_groups', (SELECT bad FROM aud)
       |UNION ALL SELECT '8_view_fp_sum', (SELECT f FROM vfp))
       |ORDER BY metric""".stripMargin
  }

  /** q381's oracle: the 3-moment stratum fold, floored population
    * variance, IEEE-sqrt σ, and both allocations replayed with the
    * identical floor/largest-remainder/zero-funding rule. */
  private def q381OracleSql: String = {
    val b = graft.ops.PipelineOps.NeymanBudget
    val plants = graft.ops.PipelineOps.NeymanPlant
      .map { case (st, _, y) => s"('$st', CAST($y AS BIGINT))" }
      .mkString(",\n    ")
    def allocBlock(x: String, wExpr: String): String =
      s"""w_$x AS (SELECT stratum, $wExpr AS w FROM sv),
         |t_$x AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w_$x),
         |b_$x AS (SELECT stratum, $b * w // tw AS b0, ($b * w) % tw AS rem
         |  FROM w_$x CROSS JOIN t_$x),
         |s_$x AS (SELECT CAST($b - sum(b0) AS BIGINT) AS short FROM b_$x),
         |u_$x AS MATERIALIZED (SELECT stratum, b0 +
         |    CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum) <=
         |      (SELECT short FROM s_$x) THEN 1 ELSE 0 END AS a
         |  FROM b_$x),
         |z_$x AS (SELECT CAST(count(*) AS BIGINT) AS k FROM u_$x WHERE a = 0),
         |d_$x AS (SELECT stratum FROM u_$x ORDER BY a DESC, stratum LIMIT 1),
         |f_$x AS MATERIALIZED (SELECT u.stratum,
         |    CAST(CASE WHEN u.a = 0 THEN 1
         |         WHEN u.stratum = (SELECT stratum FROM d_$x)
         |           AND (SELECT k FROM z_$x) > 0
         |           THEN u.a - (SELECT k FROM z_$x)
         |         ELSE u.a END AS BIGINT) AS a
         |  FROM u_$x u)""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT lang AS stratum,
       |    CAST(length(coalesce(text, '')) AS BIGINT) AS y FROM documents
       |  UNION ALL SELECT * FROM (VALUES
       |    $plants) v(stratum, y)),
       |mom AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM base GROUP BY stratum),
       |sv AS MATERIALIZED (SELECT stratum, n,
       |    (n * syy - sy * sy) // (n * n) AS v2,
       |    CAST(floor(sqrt(CAST((n * syy - sy * sy) // (n * n) AS DOUBLE)))
       |      AS BIGINT) AS sigma
       |  FROM mom),
       |${allocBlock("p", "n")},
       |${allocBlock("y", "n * sigma")},
       |sc AS (SELECT
       |    (SELECT CAST(sum(sv.n * sv.n * sv.v2 // f.a) AS BIGINT)
       |     FROM sv JOIN f_p f USING (stratum)) AS vp,
       |    (SELECT CAST(sum(sv.n * sv.n * sv.v2 // f.a) AS BIGINT)
       |     FROM sv JOIN f_y f USING (stratum)) AS vy)
       |SELECT * FROM (
       |SELECT 's_' || sv.stratum AS stratum, sv.n AS n_docs,
       |  CAST(sv.v2 AS BIGINT) AS v2, sv.sigma,
       |  fp.a AS n_prop, fy.a AS n_neyman
       |FROM sv JOIN f_p fp USING (stratum) JOIN f_y fy USING (stratum)
       |UNION ALL SELECT 'z1_var_prop', CAST($b AS BIGINT),
       |  (SELECT vp FROM sc), 0, 0, 0
       |UNION ALL SELECT 'z2_var_neyman', CAST($b AS BIGINT),
       |  (SELECT vy FROM sc), 0, 0, 0)
       |ORDER BY stratum""".stripMargin
  }

  /** q382's oracle: the codec round-trip is lossless, so the decoded
    * raster IS the rendering formula (q251's rule) — replay the texture
    * + watermark pixels and the fp31 fold per tile directly, then the
    * share detector and totals. */
  private def q382OracleSql: String = {
    val (wmMod, wmRes) = (graft.ops.MultimodalOps.WmMod,
      graft.ops.MultimodalOps.WmRes)
    def fpPix: String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split(
         |    CAST(id AS VARCHAR) || ':' ||
         |    CAST((t.t % 2) * 8 + (k % 8) AS VARCHAR) || ':' ||
         |    CAST((t.t // 2) * 8 + (k // 8) AS VARCHAR), ''),
         |    c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    s"""WITH d AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) AS id,
       |    ((CAST(doc_id AS BIGINT) % $wmMod) + $wmMod) % $wmMod = $wmRes
       |      AS wm
       |  FROM documents),
       |tiles AS MATERIALIZED (
       |  SELECT id, t.t,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(0, 63), k ->
       |        CASE WHEN wm AND t.t = 0
       |          THEN (17 * ((k % 8)) + 23 * (k // 8) + 101) % 256
       |          ELSE list_extract(list_transform([$fpPix], f ->
       |                 (f * f % 1000000007) % 256), 1)
       |        END)),
       |      (acc, v) -> (acc * 31 + v) % 1000000007) AS sig
       |  FROM d CROSS JOIN generate_series(0, 3) t(t)),
       |sh AS MATERIALIZED (SELECT sig, CAST(count(*) AS BIGINT) AS n_images,
       |    CAST(min(id) AS BIGINT) AS min_doc
       |  FROM tiles GROUP BY sig HAVING count(*) >= 2),
       |tot AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS n,
       |    CAST(count(DISTINCT CASE WHEN wm THEN id END) AS BIGINT) AS nw
       |  FROM d)
       |SELECT * FROM (
       |SELECT '1_images_total' AS grp, (SELECT n FROM tot) AS n_images,
       |  CAST(0 AS BIGINT) AS min_doc
       |UNION ALL SELECT '2_watermarked', (SELECT nw FROM tot), 0
       |UNION ALL SELECT '3_shared_sigs',
       |  (SELECT CAST(count(*) AS BIGINT) FROM sh), 0
       |UNION ALL SELECT 'sig:' || CAST(sig AS VARCHAR), n_images, min_doc
       |FROM sh)
       |ORDER BY grp""".stripMargin
  }

  /** q369's oracle: the same 32 squared-tail sign folds per row (the
    * inner fp(source) computed once per row, the rep axis via
    * generate_series), the 32-sum fold, exact F2, mean and
    * median-of-means summary rows. */
  private def q369OracleSql: String = {
    val r = graft.ops.PipelineOps.AmsReps
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    s"""WITH d AS MATERIALIZED (SELECT source, ${fp("source")} AS fpk
       |  FROM documents),
       |sg AS (SELECT t.r, CASE WHEN (${fp(
            "'ams:' || CAST(t.r AS VARCHAR) || ':' || d.source || ':' || " +
            "CAST((d.fpk % 1000003) * (d.fpk % 1000003) AS VARCHAR)")}
       |    // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM d CROSS JOIN generate_series(0, ${r - 1}) t(r)),
       |z AS MATERIALIZED (SELECT r, CAST(sum(s) AS BIGINT) AS z
       |  FROM sg GROUP BY r),
       |ex AS MATERIALIZED (SELECT CAST(sum(c * c) AS BIGINT) AS f2,
       |    CAST(sum(c) AS BIGINT) AS n
       |  FROM (SELECT count(*) AS c FROM documents GROUP BY source)),
       |est AS MATERIALIZED (SELECT r, z, z * z AS e FROM z),
       |mn AS (SELECT CAST(sum(e) // $r AS BIGINT) AS m FROM est),
       |grp AS (SELECT CAST(sum(e) // 4 AS BIGINT) AS gm
       |  FROM est GROUP BY r // 4),
       |mom AS (SELECT CAST(sum(gm) // 2 AS BIGINT) AS m FROM (
       |    SELECT gm FROM grp ORDER BY gm LIMIT 2 OFFSET ${r / 8 - 1}))
       |SELECT * FROM (
       |SELECT est.r AS rep, est.z AS z_or_n, est.e AS estimate,
       |  abs(est.e - ex.f2) * 1000000 // ex.f2 AS err_ppm
       |FROM est CROSS JOIN ex
       |UNION ALL SELECT CAST(97 AS BIGINT), ex.n, ex.f2,
       |  CAST(0 AS BIGINT) FROM ex
       |UNION ALL SELECT CAST(98 AS BIGINT), CAST($r AS BIGINT), mn.m,
       |  abs(mn.m - ex.f2) * 1000000 // ex.f2 FROM mn CROSS JOIN ex
       |UNION ALL SELECT CAST(99 AS BIGINT), CAST(${r / 4} AS BIGINT), mom.m,
       |  abs(mom.m - ex.f2) * 1000000 // ex.f2 FROM mom CROSS JOIN ex)
       |ORDER BY rep""".stripMargin
  }

  /** q367's oracle: three plant signal legs (heuristic ratio, the shared
    * NB chain's `ps`/`ds`, a plant-trained bigram-LM dictionary), one
    * minimax-PAV calibration per signal (q338's cross-algorithm form),
    * calibrated-rate ensemble scores per plant and corpus doc, and per
    * signal + ensemble the exact max-F1 sweep, midrank AUC and corpus
    * keep count at the operating point. */
  // per-signal oracle blocks over pRel(doc_id, y, score) /
  // dRel(doc_id, score) — ONE definition shared by the q367 (plant-
  // calibrated) and q373 (in-domain pseudo-label) oracles
  private def calBlock(g: String, pRel: String): String =
    s"""bins_$g AS MATERIALIZED (SELECT score, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS np FROM $pRel GROUP BY score),
       |pre_$g AS MATERIALIZED (SELECT score, n, np,
       |    CAST(row_number() OVER (ORDER BY score) AS BIGINT) AS rn,
       |    CAST(sum(n) OVER (ORDER BY score) AS BIGINT) AS cn,
       |    CAST(sum(np) OVER (ORDER BY score) AS BIGINT) AS cp
       |  FROM bins_$g),
       |seg_$g AS (SELECT a.rn AS ra, b.rn AS rb,
       |    (b.cp - a.cp + a.np) * 1000000 // (b.cn - a.cn + a.n) AS avgf
       |  FROM pre_$g a JOIN pre_$g b ON b.rn >= a.rn),
       |mm_$g AS (SELECT i.rn AS i, s.ra, min(s.avgf) AS mn
       |  FROM pre_$g i JOIN seg_$g s ON s.ra <= i.rn AND s.rb >= i.rn
       |  GROUP BY i.rn, s.ra),
       |fit_$g AS (SELECT i AS rn, CAST(max(mn) AS BIGINT) AS iso
       |  FROM mm_$g GROUP BY i),
       |cal_$g AS MATERIALIZED (SELECT p.score, f.iso
       |  FROM pre_$g p JOIN fit_$g f USING (rn))""".stripMargin
  private def evalBlock(g: String, pRel: String, dRel: String): String =
    s"""sw_$g AS (SELECT thr.t,
       |    CAST(sum(CASE WHEN p.y = 1 AND p.score >= thr.t
       |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN p.y = 0 AND p.score >= thr.t
       |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN p.y = 1 AND p.score < thr.t
       |      THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM (SELECT DISTINCT score AS t FROM $pRel) thr
       |  CROSS JOIN $pRel p GROUP BY thr.t),
       |best_$g AS MATERIALIZED (SELECT t, tp, fp, fn,
       |    2 * tp * 1000000 // (2 * tp + fp + fn) AS f1
       |  FROM sw_$g ORDER BY f1 DESC, t LIMIT 1),
       |auh_$g AS (SELECT score, CAST(sum(y) AS BIGINT) AS p,
       |    CAST(sum(1 - y) AS BIGINT) AS n FROM $pRel GROUP BY score),
       |auw_$g AS (SELECT p, n,
       |    coalesce(CAST(sum(n) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS negb
       |  FROM auh_$g),
       |auc_$g AS (SELECT CAST(CASE WHEN sum(p) = 0 OR sum(n) = 0 THEN 0
       |    ELSE CAST(sum(p * (2 * negb + n)) AS HUGEINT)
       |    * 1000000 // (2 * CAST(sum(p) AS HUGEINT) * sum(n)) END AS BIGINT)
       |    AS auc FROM auw_$g),
       |ck_$g AS (SELECT CAST(sum(CASE WHEN d.score >= b.t
       |    THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM $dRel d CROSS JOIN best_$g b)""".stripMargin

  /** The q367 signal legs — plant scores (p_h/ps/p_l) and corpus scores
    * (d_h/ds/d_l) for all three quality signals — shared verbatim by the
    * q367 and q373 oracles (prepend [[nbScoreChainSql]]). */
  private def signalLegsSql: String =
    s"""p_h AS MATERIALIZED (SELECT doc_id, y,
       |    CAST(len(list_distinct(string_split(txt, ' '))) * 1000
       |      // len(string_split(txt, ' ')) AS BIGINT) AS score
       |  FROM plants),
       |d_h AS MATERIALIZED (SELECT doc_id,
       |    CAST(len(list_distinct(string_split(coalesce(text, ''), ' '))) * 1000
       |      // len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS score
       |  FROM documents),
       |lx AS (SELECT doc_id, y, ws,
       |    unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i FROM pw),
       |lg AS MATERIALIZED (SELECT doc_id, y, ws[i] AS w1, ws[i + 1] AS w2
       |  FROM lx),
       |lc2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
       |  FROM lg GROUP BY w1, w2),
       |lc1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM lc2 GROUP BY w1),
       |ldic AS MATERIALIZED (SELECT w1, w2, n12 * 1000000 // n1 AS ppm
       |  FROM lc2 JOIN lc1 USING (w1)),
       |p_l AS MATERIALIZED (SELECT pw.doc_id, pw.y,
       |    coalesce(sl.sc, 0) AS score
       |  FROM pw LEFT JOIN (SELECT doc_id,
       |      CAST(sum(coalesce(ldic.ppm, 0)) // count(*) AS BIGINT) AS sc
       |    FROM lg LEFT JOIN ldic USING (w1, w2) GROUP BY doc_id) sl
       |  USING (doc_id)),
       |dx AS (SELECT doc_id, ws,
       |    unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i FROM dw),
       |dgp AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM dx),
       |d_l AS MATERIALIZED (SELECT dw.doc_id, coalesce(sl.sc, 0) AS score
       |  FROM dw LEFT JOIN (SELECT doc_id,
       |      CAST(sum(coalesce(ldic.ppm, 0)) // count(*) AS BIGINT) AS sc
       |    FROM dgp LEFT JOIN ldic USING (w1, w2) GROUP BY doc_id) sl
       |  USING (doc_id))""".stripMargin

  private def q367OracleSql: String = {
    def rate(g: String, ref: String): String =
      s"""coalesce((SELECT c.iso FROM cal_$g c WHERE c.score <= $ref
         |      ORDER BY c.score DESC LIMIT 1),
         |    (SELECT c.iso FROM cal_$g c ORDER BY c.score LIMIT 1))""".stripMargin
    def outRow(name: String, g: String): String =
      s"""SELECT '$name' AS signal, (SELECT auc FROM auc_$g) AS auc_ppm,
         |  b.t AS best_thr, b.tp, b.fp, b.fn, b.f1 AS f1_ppm,
         |  (SELECT k FROM ck_$g) AS n_corpus_keep
         |FROM best_$g b""".stripMargin
    s"""WITH $nbScoreChainSql,
       |$signalLegsSql,
       |${calBlock("h", "p_h")},
       |${calBlock("n", "ps")},
       |${calBlock("l", "p_l")},
       |pe AS MATERIALIZED (SELECT a.doc_id, a.y,
       |    CAST(${rate("h", "a.score")}
       |      + ${rate("n", "b.score")}
       |      + ${rate("l", "l.score")} AS BIGINT) AS score
       |  FROM p_h a JOIN ps b USING (doc_id) JOIN p_l l USING (doc_id)),
       |de AS MATERIALIZED (SELECT a.doc_id,
       |    CAST(${rate("h", "a.score")}
       |      + ${rate("n", "b.score")}
       |      + ${rate("l", "l.score")} AS BIGINT) AS score
       |  FROM d_h a JOIN ds b USING (doc_id) JOIN d_l l USING (doc_id)),
       |${evalBlock("h", "p_h", "d_h")},
       |${evalBlock("n", "ps", "ds")},
       |${evalBlock("l", "p_l", "d_l")},
       |${evalBlock("e", "pe", "de")}
       |SELECT * FROM (
       |${outRow("1_heur", "h")}
       |UNION ALL ${outRow("2_nb", "n")}
       |UNION ALL ${outRow("3_lm", "l")}
       |UNION ALL ${outRow("4_ensemble", "e")})
       |ORDER BY signal""".stripMargin
  }

  /** q373's oracle: the SAME signal legs as q367, exact deciles via
    * row_number over (score, doc_id), the agreement-band pseudo-labels,
    * the shared calBlock/evalBlock machinery over decile scores, the
    * 10-entry calibrated rate tables, the ensemble join and the
    * per-signal agreement matrices vs the ensemble cut. */
  private def q373OracleSql: String = {
    def rate10Block(g: String): String =
      s"""r10_$g AS MATERIALIZED (SELECT dv.d AS dec,
         |    coalesce((SELECT c.iso FROM cal_$g c WHERE c.score <= dv.d
         |        ORDER BY c.score DESC LIMIT 1),
         |      (SELECT c.iso FROM cal_$g c ORDER BY c.score LIMIT 1)) AS r
         |  FROM (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS d) dv)"""
        .stripMargin
    def agBlock(g: String): String =
      s"""ag_$g AS MATERIALIZED (SELECT
         |    CAST(sum(CASE WHEN e.score >= be.t AND d.score >= bg.t
         |      THEN 1 ELSE 0 END) AS BIGINT) AS a11,
         |    CAST(sum(CASE WHEN e.score >= be.t AND d.score < bg.t
         |      THEN 1 ELSE 0 END) AS BIGINT) AS a10,
         |    CAST(sum(CASE WHEN e.score < be.t AND d.score >= bg.t
         |      THEN 1 ELSE 0 END) AS BIGINT) AS a01,
         |    CAST(sum(CASE WHEN e.score < be.t AND d.score < bg.t
         |      THEN 1 ELSE 0 END) AS BIGINT) AS a00
         |  FROM de e JOIN dr_$g d USING (doc_id)
         |  CROSS JOIN best_e be CROSS JOIN best_$g bg)""".stripMargin
    def outRow(name: String, g: String): String = {
      val (ak, mk, md, ad) =
        if (g == "e") ("(SELECT k FROM ck_e)", "CAST(0 AS BIGINT)",
          "CAST(0 AS BIGINT)",
          "(SELECT n FROM nc373) - (SELECT k FROM ck_e)")
        else (s"(SELECT a11 FROM ag_$g)", s"(SELECT a10 FROM ag_$g)",
          s"(SELECT a01 FROM ag_$g)", s"(SELECT a00 FROM ag_$g)")
      s"""SELECT '$name' AS signal, (SELECT auc FROM auc_$g) AS auc_ppm,
         |  b.t AS best_thr, b.tp, b.fp, b.fn, b.f1 AS f1_ppm,
         |  (SELECT k FROM ck_$g) AS n_corpus_keep,
         |  $ak AS agree_keep, $mk AS mixed_keep,
         |  $md AS mixed_drop, $ad AS agree_drop,
         |  (SELECT npos FROM lc373) AS n_pseudo_pos,
         |  (SELECT nneg FROM lc373) AS n_pseudo_neg,
         |  (SELECT namb FROM lc373) AS n_ambiguous
         |FROM best_$g b""".stripMargin
    }
    s"""WITH $nbScoreChainSql,
       |$signalLegsSql,
       |sigs AS MATERIALIZED (SELECT d_h.doc_id, d_h.score AS sh,
       |    ds.score AS sn, d_l.score AS sl
       |  FROM d_h JOIN ds USING (doc_id) JOIN d_l USING (doc_id)),
       |nc373 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sigs),
       |dd AS MATERIALIZED (SELECT doc_id,
       |    (row_number() OVER (ORDER BY sh, doc_id) - 1) * 10
       |      // (SELECT n FROM nc373) AS d_h,
       |    (row_number() OVER (ORDER BY sn, doc_id) - 1) * 10
       |      // (SELECT n FROM nc373) AS d_n,
       |    (row_number() OVER (ORDER BY sl, doc_id) - 1) * 10
       |      // (SELECT n FROM nc373) AS d_l
       |  FROM sigs),
       |lab AS MATERIALIZED (SELECT doc_id, d_h, d_n, d_l,
       |    CASE WHEN d_h >= 5 AND d_n >= 5 AND d_l >= 5 THEN 1
       |         WHEN d_h < 5 AND d_n < 5 AND d_l < 5 THEN 0 END AS y,
       |    CASE WHEN d_n >= 5 AND d_l >= 5 THEN 1
       |         WHEN d_n < 5 AND d_l < 5 THEN 0 END AS y_h,
       |    CASE WHEN d_h >= 5 AND d_l >= 5 THEN 1
       |         WHEN d_h < 5 AND d_l < 5 THEN 0 END AS y_n,
       |    CASE WHEN d_h >= 5 AND d_n >= 5 THEN 1
       |         WHEN d_h < 5 AND d_n < 5 THEN 0 END AS y_l
       |  FROM dd),
       |lb AS MATERIALIZED (SELECT * FROM lab WHERE y IS NOT NULL),
       |p373h AS (SELECT doc_id, y_h AS y, d_h AS score FROM lab
       |  WHERE y_h IS NOT NULL),
       |p373n AS (SELECT doc_id, y_n AS y, d_n AS score FROM lab
       |  WHERE y_n IS NOT NULL),
       |p373l AS (SELECT doc_id, y_l AS y, d_l AS score FROM lab
       |  WHERE y_l IS NOT NULL),
       |${calBlock("h", "p373h")},
       |${calBlock("n", "p373n")},
       |${calBlock("l", "p373l")},
       |${rate10Block("h")},
       |${rate10Block("n")},
       |${rate10Block("l")},
       |de AS MATERIALIZED (SELECT dd.doc_id,
       |    rh.r + rn2.r + rl.r AS score
       |  FROM dd JOIN r10_h rh ON rh.dec = dd.d_h
       |  JOIN r10_n rn2 ON rn2.dec = dd.d_n
       |  JOIN r10_l rl ON rl.dec = dd.d_l),
       |pe AS MATERIALIZED (SELECT de.doc_id, lb.y, de.score
       |  FROM de JOIN lb USING (doc_id)),
       |dr_h AS (SELECT doc_id, d_h AS score FROM dd),
       |dr_n AS (SELECT doc_id, d_n AS score FROM dd),
       |dr_l AS (SELECT doc_id, d_l AS score FROM dd),
       |${evalBlock("h", "p373h", "dr_h")},
       |${evalBlock("n", "p373n", "dr_n")},
       |${evalBlock("l", "p373l", "dr_l")},
       |${evalBlock("e", "pe", "de")},
       |${agBlock("h")},
       |${agBlock("n")},
       |${agBlock("l")},
       |lc373 AS (SELECT
       |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS npos,
       |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nneg,
       |    CAST(sum(CASE WHEN y IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS namb
       |  FROM lab)
       |SELECT * FROM (
       |${outRow("1_heur", "h")}
       |UNION ALL ${outRow("2_nb", "n")}
       |UNION ALL ${outRow("3_lm", "l")}
       |UNION ALL ${outRow("4_ensemble", "e")})
       |ORDER BY signal""".stripMargin
  }

  /** q337's oracle: both planted domains regenerate from the SAME
    * arithmetic as the Spark query (string_agg over generate_series —
    * no corpus-sized literal), the per-source bigram loss replays q107's
    * dict join, and the 10 hedge rounds unroll as chained CTEs with
    * BIGINT-only accumulators (w, running Σw), each round renormalized
    * by its own sum. */
  private def q337OracleSql: String = {
    val rounds = (1 to 10).map { t =>
      s"""u$t AS (SELECT source, excess, acc,
         |    w * (1000000 + excess) AS u FROM r${t - 1}),
         |r$t AS MATERIALIZED (SELECT source, excess,
         |    CAST(u * 1000000 // (SELECT CAST(sum(u) AS BIGINT) FROM u$t)
         |      AS BIGINT) AS w,
         |    acc + CAST(u * 1000000 // (SELECT CAST(sum(u) AS BIGINT)
         |      FROM u$t) AS BIGINT) AS acc
         |  FROM u$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH plants AS (
       |  SELECT 'xx' AS lang, 'plantE' AS source,
       |    (SELECT string_agg('ze' || CAST(k % 4 AS VARCHAR), ' ' ORDER BY k)
       |     FROM generate_series(0, 399) t(k)) AS text
       |  UNION ALL SELECT 'xx', 'plantH',
       |    (SELECT string_agg('zh' || CAST(CASE WHEN k % 2 = 0
       |        THEN (k // 2) % 60
       |        ELSE ((k // 2) % 60 + (k // 2) // 60 + 1) % 60 END AS VARCHAR),
       |      ' ' ORDER BY k)
       |     FROM generate_series(0, 7079) t(k))),
       |alld AS (SELECT source, text FROM documents
       |  UNION ALL SELECT source, text FROM plants),
       |w AS (SELECT source, string_split(text, ' ') AS ws FROM alld
       |      WHERE len(string_split(text, ' ')) >= 2),
       |x AS (SELECT source, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w),
       |g AS MATERIALIZED (SELECT source, ws[i] AS w1, ws[i + 1] AS w2 FROM x),
       |c2 AS MATERIALIZED (SELECT w1, w2, count(*) AS n12 FROM g GROUP BY w1, w2),
       |c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
       |d AS (SELECT c2.w1, c2.w2, n12 * 1000000 // n1 AS ppm
       |      FROM c2 JOIN c1 USING (w1)),
       |dom AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS np,
       |    CAST(sum(ppm) AS BIGINT) AS sppm
       |  FROM g JOIN d USING (w1, w2) GROUP BY source),
       |ls AS MATERIALIZED (SELECT source, np, sppm // np AS pred,
       |    1000000 - sppm // np AS loss
       |  FROM dom),
       |mn AS (SELECT min(loss) AS ml, CAST(sum(np) AS BIGINT) AS tp FROM ls),
       |r0 AS MATERIALIZED (SELECT source, loss - mn.ml AS excess,
       |    np * 1000000 // mn.tp AS w, CAST(0 AS BIGINT) AS acc
       |  FROM ls, mn),
       |$rounds
       |SELECT ls.source, ls.np AS n_pairs, ls.pred AS pred_ppm,
       |  ls.loss AS loss_ppm, r10.excess AS excess_ppm,
       |  r0.w AS w_init_ppm, r10.w AS w_final_ppm,
       |  r10.acc // 10 AS w_avg_ppm, r10.w - r0.w AS drift_ppm
       |FROM ls JOIN r0 USING (source) JOIN r10 USING (source)
       |ORDER BY source""".stripMargin
  }

  /** q321's oracle: hashed-bigram DSIR replay — FpByteFold fingerprints
    * for doc hash + gram buckets, add-one-smoothed ppm models, half-bit
    * log2 ratio via length(bin(r²))−1−39, A-ES log-domain priority, exact
    * rank selection of k = n//5, |langs|-row composition report. */
  private def q321OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS ws,
       |    ${fp("coalesce(text, '') || CAST(doc_id AS VARCHAR)")} AS fp
       |  FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
       |      i -> ${fp("ws[i] || ' ' || ws[i+1]")} % 128)) AS bucket
       |  FROM d),
       |cnt AS MATERIALIZED (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_r,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t
       |  FROM g GROUP BY bucket),
       |tot AS MATERIALIZED (
       |  SELECT CAST(sum(n_r) AS BIGINT) AS nr, CAST(sum(n_t) AS BIGINT) AS nt
       |  FROM cnt),
       |sc AS MATERIALIZED (
       |  SELECT bucket, CAST(length(bin(r * r)) - 1 - 39 AS BIGINT) AS llw_half
       |  FROM (SELECT bucket,
       |      least(greatest((n_t + 1) * 1000000 // (tot.nt + 128), 1) * 1000000
       |        // greatest((n_r + 1) * 1000000 // (tot.nr + 128), 1),
       |        2147483647) AS r
       |    FROM cnt, tot)),
       |llw AS MATERIALIZED (
       |  SELECT g.doc_id, CAST(sum(sc.llw_half) AS BIGINT) AS llw
       |  FROM g JOIN sc USING (bucket) GROUP BY g.doc_id),
       |pd AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang, coalesce(llw.llw, 0) AS llw,
       |    CAST(length(bin((d.fp + 1) * (d.fp + 1))) - 1 AS BIGINT)
       |      - coalesce(llw.llw, 0) AS pri
       |  FROM d LEFT JOIN llw USING (doc_id)),
       |rk AS MATERIALIZED (
       |  SELECT *, CAST(row_number() OVER (ORDER BY pri, doc_id) AS BIGINT) AS rn,
       |    CAST(count(*) OVER () AS BIGINT) AS total
       |  FROM pd)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_raw,
       |  CAST(count(*) AS BIGINT) * 1000000 // min(total) AS raw_ppm,
       |  CAST(sum(llw) AS BIGINT) AS sum_llw,
       |  CAST(sum(CASE WHEN rn <= total // 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
       |  CASE WHEN min(total) // 5 = 0 THEN 0
       |    ELSE CAST(sum(CASE WHEN rn <= total // 5 THEN 1 ELSE 0 END) AS BIGINT)
       |      * 1000000 // (min(total) // 5) END AS sel_ppm
       |FROM rk GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q334's oracle: the QualityPlant rows render as VALUES from the SAME
    * Scala constant the driver trains on; per-class bucket counts over
    * FpByteFold bigram fingerprints % 256, add-one-smoothed ppm models,
    * half-bit LLR via length(bin(r²))−1−39, per-doc score folds for
    * plants AND corpus, then the exact threshold sweep (tp/fp/fn,
    * precision/recall/F1 ppm, max-F1 chosen row, corpus keep counts and
    * q31-heuristic agreement). */
  /** The Naive-Bayes train-and-score CTE chain shared by q334's sweep
    * and q338's calibrator: QualityPlant VALUES, per-class bucket
    * counts, half-bit LLR weights over all 256 buckets, plant scores
    * (ps) and corpus scores + q31 heuristic (ds). */
  private def nbScoreChainSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    val plantRows = graft.ops.PipelineOps.QualityPlant.map {
      case (id, y, t) => s"(CAST($id AS BIGINT), CAST($y AS BIGINT), '$t')"
    }.mkString(",\n    ")
    s"""plants(doc_id, y, txt) AS (VALUES
       |    $plantRows),
       |pw AS MATERIALIZED (SELECT doc_id, y,
       |    list_filter(string_split(txt, ' '), x -> x <> '') AS ws
       |  FROM plants),
       |pg AS MATERIALIZED (SELECT doc_id, y,
       |    unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
       |      i -> ${fp("ws[i] || ' ' || ws[i+1]")} % 256)) AS bucket
       |  FROM pw),
       |cnt AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS c1,
       |    CAST(sum(1 - y) AS BIGINT) AS c0
       |  FROM pg GROUP BY bucket),
       |tot AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
       |    CAST(sum(1 - y) AS BIGINT) AS n0 FROM pg),
       |w AS MATERIALIZED (
       |  SELECT bucket, CAST(length(bin(r * r)) - 1 - 39 AS BIGINT) AS w
       |  FROM (SELECT bk.bucket,
       |      least(greatest((coalesce(cnt.c1, 0) + 1) * 1000000
       |          // (tot.n1 + 256), 1) * 1000000
       |        // greatest((coalesce(cnt.c0, 0) + 1) * 1000000
       |          // (tot.n0 + 256), 1), 2147483647) AS r
       |    FROM (SELECT CAST(unnest(generate_series(0, 255)) AS BIGINT)
       |        AS bucket) bk
       |    LEFT JOIN cnt USING (bucket), tot)),
       |ps AS MATERIALIZED (
       |  SELECT pw.doc_id, pw.y, coalesce(sc.s, 0) AS score
       |  FROM pw LEFT JOIN (SELECT doc_id, CAST(sum(w.w) AS BIGINT) AS s
       |    FROM pg JOIN w USING (bucket) GROUP BY doc_id) sc USING (doc_id)),
       |dw AS MATERIALIZED (SELECT doc_id,
       |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws,
       |    CASE WHEN text IS NOT NULL
       |      AND len(list_distinct(string_split(text, ' '))) * 1000
       |        // len(string_split(text, ' ')) >= 450
       |      THEN CAST(1 AS BIGINT) ELSE 0 END AS heur
       |  FROM documents),
       |dg AS (SELECT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
       |      i -> ${fp("ws[i] || ' ' || ws[i+1]")} % 256)) AS bucket
       |  FROM dw),
       |ds AS MATERIALIZED (
       |  SELECT dw.doc_id, coalesce(sc.s, 0) AS score, dw.heur
       |  FROM dw LEFT JOIN (SELECT doc_id, CAST(sum(w.w) AS BIGINT) AS s
       |    FROM dg JOIN w USING (bucket) GROUP BY doc_id) sc USING (doc_id))"""
      .stripMargin
  }

  private def q334OracleSql: String = {
    s"""WITH $nbScoreChainSql,
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ds),
       |thr AS MATERIALIZED (SELECT DISTINCT score AS t FROM ps),
       |sw AS MATERIALIZED (SELECT thr.t,
       |    CAST(sum(CASE WHEN ps.y = 1 AND ps.score >= thr.t
       |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN ps.y = 0 AND ps.score >= thr.t
       |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN ps.y = 1 AND ps.score < thr.t
       |      THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM thr CROSS JOIN ps GROUP BY thr.t),
       |cs AS MATERIALIZED (SELECT thr.t,
       |    CAST(sum(CASE WHEN ds.score >= thr.t THEN 1 ELSE 0 END)
       |      AS BIGINT) AS npred,
       |    CAST(sum(CASE WHEN (CASE WHEN ds.score >= thr.t THEN 1 ELSE 0 END)
       |      = ds.heur THEN 1 ELSE 0 END) AS BIGINT) AS agree
       |  FROM thr CROSS JOIN ds GROUP BY thr.t),
       |fs AS MATERIALIZED (SELECT t AS thr_half, tp, fp, fn,
       |    tp * 1000000 // (tp + fp) AS prec_ppm,
       |    tp * 1000000 // (tp + fn) AS rec_ppm,
       |    2 * tp * 1000000 // (2 * tp + fp + fn) AS f1_ppm
       |  FROM sw)
       |SELECT fs.thr_half, fs.tp, fs.fp, fs.fn, fs.prec_ppm, fs.rec_ppm,
       |  fs.f1_ppm,
       |  CASE WHEN row_number() OVER (ORDER BY fs.f1_ppm DESC, fs.thr_half)
       |    = 1 THEN CAST(1 AS BIGINT) ELSE 0 END AS chosen,
       |  cs.npred AS n_corpus_pred_pos,
       |  cs.agree * 1000000 // nc.n AS heur_agree_ppm
       |FROM fs JOIN cs ON fs.thr_half = cs.t, nc
       |ORDER BY thr_half""".stripMargin
  }

  /** q353's oracle: the shared NB score chain, the chosen-threshold
    * derivation replayed in SQL (max F1, smallest-t tie-break), the
    * exact-median corpus-relative threshold (⌈n/2⌉-th largest score —
    * a value, so the row_number tie order is irrelevant), both cuts
    * and the per-(lang, source) composition shift. */
  private def q353OracleSql: String =
    s"""WITH $nbScoreChainSql,
       |thr AS (SELECT DISTINCT score AS t FROM ps),
       |sw AS (SELECT thr.t,
       |    CAST(sum(CASE WHEN ps.y = 1 AND ps.score >= thr.t
       |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN ps.y = 0 AND ps.score >= thr.t
       |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN ps.y = 1 AND ps.score < thr.t
       |      THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM thr CROSS JOIN ps GROUP BY thr.t),
       |ch AS (SELECT t AS thr FROM (SELECT t,
       |      2 * tp * 1000000 // (2 * tp + fp + fn) AS f1 FROM sw)
       |  ORDER BY f1 DESC, t LIMIT 1),
       |nm AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ds),
       |tm AS (SELECT CAST(min(score) AS BIGINT) AS t FROM
       |    (SELECT score, row_number() OVER (ORDER BY score DESC) AS rn
       |     FROM ds)
       |  WHERE rn <= (SELECT (n + 1) // 2 FROM nm)),
       |kd AS (SELECT d.lang, d.source, d.n_chars,
       |    CASE WHEN ds.score >= ch.thr THEN 1 ELSE 0 END AS keep,
       |    CASE WHEN ds.score >= tm.t THEN 1 ELSE 0 END AS keepm
       |  FROM ds JOIN documents d USING (doc_id)
       |  CROSS JOIN ch CROSS JOIN tm),
       |per AS MATERIALIZED (SELECT lang, source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(keep) AS BIGINT) AS n_keep,
       |    CAST(sum(keepm) AS BIGINT) AS n_keep_med,
       |    CAST(sum(n_chars) AS BIGINT) AS chars_total,
       |    CAST(sum(n_chars * keep) AS BIGINT) AS chars_kept,
       |    CAST(sum(n_chars * keepm) AS BIGINT) AS chars_kept_med
       |  FROM kd GROUP BY lang, source),
       |gt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS na,
       |    CAST(sum(n_keep) AS BIGINT) AS nk,
       |    CAST(sum(n_keep_med) AS BIGINT) AS nkm FROM per)
       |SELECT lang, source,
       |  (SELECT CAST(thr AS BIGINT) FROM ch) AS thr_half,
       |  (SELECT t FROM tm) AS thr_med,
       |  n_docs, n_keep, n_keep * 1000000 // n_docs AS keep_ppm,
       |  n_keep_med, n_keep_med * 1000000 // n_docs AS keep_med_ppm,
       |  chars_total, chars_kept, chars_kept_med,
       |  n_docs * 1000000 // gt.na AS share_before_ppm,
       |  CASE WHEN gt.nk = 0 THEN CAST(0 AS BIGINT)
       |    ELSE n_keep * 1000000 // gt.nk END AS share_after_ppm,
       |  CASE WHEN gt.nkm = 0 THEN CAST(0 AS BIGINT)
       |    ELSE n_keep_med * 1000000 // gt.nkm END AS share_after_med_ppm
       |FROM per CROSS JOIN gt ORDER BY lang, source""".stripMargin

  /** q354's oracle: the shared-rare-5-gram graph, the seed clamp, and
    * [[graft.ops.PipelineOps.LabelPropRounds]] generated synchronous
    * propagation rounds (full_r = clamp ∪ normalized inflow over
    * unlabeled nodes), then the per-lang coverage/accuracy report. */
  private def q354OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    val plantRows = graft.ops.PipelineOps.LabelPropPlant.map {
      case (id, lang, t) => s"(CAST($id AS BIGINT), '$lang', '$t')"
    }.mkString(",\n    ")
    val rounds = (1 to graft.ops.PipelineOps.LabelPropRounds).map { r =>
      s"""i$r AS (SELECT e.v AS doc_id, p.label,
         |    CAST(sum(p.m) AS BIGINT) AS infl
         |  FROM edges e JOIN full${r - 1} p ON e.u = p.doc_id
         |  JOIN un ON un.doc_id = e.v
         |  GROUP BY e.v, p.label),
         |u$r AS MATERIALIZED (SELECT doc_id, label,
         |    infl * 1000000 // sum(infl) OVER (PARTITION BY doc_id) AS m
         |  FROM i$r),
         |full$r AS MATERIALIZED (
         |  SELECT * FROM full0 UNION ALL SELECT * FROM u$r)""".stripMargin
    }.mkString(",\n")
    val R = graft.ops.PipelineOps.LabelPropRounds
    s"""WITH pl(doc_id, lang, txt) AS (VALUES
       |    $plantRows),
       |corpus AS MATERIALIZED (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL SELECT doc_id, lang, txt FROM pl),
       |nodes AS MATERIALIZED (SELECT doc_id, lang,
       |    CASE WHEN doc_id < 0
       |      THEN CASE WHEN doc_id IN (-901, -902) THEN 1 ELSE 0 END
       |      ELSE CASE WHEN ${fp("'lp:' || CAST(doc_id AS VARCHAR)")} % 4 = 0
       |        THEN 1 ELSE 0 END END AS seed
       |  FROM corpus),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus
       |  WHERE len(string_split(text, ' ')) >= 5),
       |g AS (SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, len(ws) - 4),
       |      i -> ${fp("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]")})) AS gf
       |  FROM w),
       |rare AS (SELECT gf FROM (SELECT gf, count(*) AS c FROM g GROUP BY gf)
       |  WHERE c BETWEEN 2 AND 8),
       |gp AS MATERIALIZED (SELECT g.doc_id, g.gf FROM g JOIN rare USING (gf)),
       |pr AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  FROM gp a JOIN gp b ON a.gf = b.gf AND a.doc_id < b.doc_id),
       |edges AS MATERIALIZED (
       |  SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr),
       |un AS MATERIALIZED (SELECT doc_id FROM nodes WHERE seed = 0),
       |full0 AS MATERIALIZED (SELECT doc_id, lang AS label,
       |    CAST(1000000 AS BIGINT) AS m FROM nodes WHERE seed = 1),
       |$rounds,
       |p1 AS (SELECT doc_id, label FROM (SELECT doc_id, label,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY m DESC, label) AS rn FROM u$R)
       |  WHERE rn = 1)
       |SELECT n.lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n.seed) AS BIGINT) AS n_seed,
       |  CAST(sum(1 - n.seed) AS BIGINT) AS n_unseeded,
       |  CAST(sum(CASE WHEN p1.label IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_pred,
       |  CAST(sum(CASE WHEN p1.label = n.lang THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  CASE WHEN CAST(sum(1 - n.seed) AS BIGINT) = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(sum(CASE WHEN p1.label IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) * 1000000 // CAST(sum(1 - n.seed) AS BIGINT)
       |    END AS coverage_ppm,
       |  CASE WHEN CAST(sum(CASE WHEN p1.label IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(sum(CASE WHEN p1.label = n.lang THEN 1 ELSE 0 END)
       |      AS BIGINT) * 1000000
       |      // CAST(sum(CASE WHEN p1.label IS NOT NULL THEN 1 ELSE 0 END)
       |        AS BIGINT) END AS acc_ppm
       |FROM nodes n LEFT JOIN p1 USING (doc_id)
       |GROUP BY n.lang ORDER BY n.lang""".stripMargin
  }

  /** q355's oracle: the static bucket table as a WITH RECURSIVE replay
    * of [[graft.ops.PipelineOps.DdBounds]]' integer recurrence, the
    * broadcast-range bucket assignment, per-scope cumulative rank
    * selection and the exact order-statistic leg. */
  private def q355OracleSql: String =
    s"""WITH RECURSIVE bnd(idx, lo, hi) AS (
       |  SELECT CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT)
       |  UNION ALL
       |  SELECT idx + 1, hi, hi + greatest(1, hi // 16) FROM bnd
       |  WHERE hi <= 1099511627776),
       |vals AS MATERIALIZED (
       |  SELECT 'corpus' AS scope, c FROM (
       |    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders)
       |  WHERE c >= 1
       |  UNION ALL SELECT 'plant', lo FROM bnd),
       |sk AS MATERIALIZED (SELECT scope, idx, lo, hi,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM vals JOIN bnd ON c >= lo AND c < hi
       |  GROUP BY scope, idx, lo, hi),
       |ns AS (SELECT scope, CAST(sum(cnt) AS BIGINT) AS n
       |  FROM sk GROUP BY scope),
       |qs(q) AS (VALUES (CAST(500 AS BIGINT)), (900), (950), (990)),
       |rk AS (SELECT scope, q, n, greatest(1, q * n // 1000) AS r
       |  FROM ns CROSS JOIN qs),
       |cum AS (SELECT scope, idx, lo, hi, cnt,
       |    sum(cnt) OVER (PARTITION BY scope ORDER BY idx) AS cm
       |  FROM sk),
       |sel AS (SELECT rk.scope, rk.q, rk.n, rk.r, c.lo, c.hi
       |  FROM rk JOIN cum c ON c.scope = rk.scope
       |    AND c.cm >= rk.r AND c.cm - c.cnt < rk.r),
       |ex AS (SELECT scope, c,
       |    row_number() OVER (PARTITION BY scope ORDER BY c) AS rn
       |  FROM vals)
       |SELECT sel.scope, sel.q AS q_permille, sel.r AS rank_k, sel.n,
       |  sel.lo AS est, ex.c AS exact,
       |  (ex.c - sel.lo) * 1000000 // ex.c AS err_ppm,
       |  (sel.hi - sel.lo) * 1000000 // sel.lo AS bound_ppm
       |FROM sel JOIN ex ON ex.scope = sel.scope AND ex.rn = sel.r
       |ORDER BY sel.scope, q_permille""".stripMargin

  /** q356's oracle: the [[graft.ops.PipelineOps.EpochDecayPpm]] table
    * inlined (one copy of the transcendental constants), per-lang token
    * fold + the 'xp' plant, effective-token HUGEINT math, marginal via
    * a lag window over the bounded |langs|×8 frame. */
  private def q356OracleSql: String = {
    val dec = graft.ops.PipelineOps.EpochDecayPpm.zipWithIndex
      .map { case (e, j) => s"($j, CAST($e AS BIGINT))" }.mkString(", ")
    s"""WITH dec(j, e) AS (VALUES $dec),
       |ul AS MATERIALIZED (
       |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS u
       |  FROM documents GROUP BY lang
       |  UNION ALL SELECT 'xp', CAST(1000000 AS BIGINT)),
       |ks(k) AS (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9),
       |  (10), (11), (12), (13), (14), (15), (16)),
       |ef AS (SELECT ul.lang, ul.u, ks.k,
       |    ul.u + CAST(CAST(ul.u AS HUGEINT) * 15390 * (1000000 - d.e)
       |      // 1000000000 AS BIGINT) AS eff
       |  FROM ul CROSS JOIN ks JOIN dec d ON d.j = ks.k - 1),
       |mg AS (SELECT lang, u, k, eff,
       |    eff - coalesce(lag(eff) OVER (PARTITION BY lang ORDER BY k), 0)
       |      AS marginal
       |  FROM ef)
       |SELECT lang, CAST(k AS BIGINT) AS k, u AS u_tokens,
       |  CAST(k AS BIGINT) * u AS raw_tokens, eff AS eff_tokens,
       |  marginal AS marginal_tokens,
       |  CAST(CAST(eff AS HUGEINT) * 1000000
       |    // (CAST(k AS HUGEINT) * u) AS BIGINT) AS value_ppm,
       |  CASE WHEN 2 * marginal >= u THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS worth_it
       |FROM mg ORDER BY lang, k""".stripMargin
  }

  /** q357's oracle: 8 salted priority rankings (IEEE double w/r with
    * id tie-break — bit-identical cross-engine), the cleared-denominator
    * estimator per salt, the salt-99 mean row, and the n<k plant where
    * the estimate is the exact sum by the published τ=0 rule. Error
    * ppm in HUGEINT (the driver's BigInt twin). */
  private def q357OracleSql: String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT CAST(o_orderkey AS BIGINT) AS id,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS w FROM orders),
       |ex AS (SELECT CAST(sum(w) AS BIGINT) AS exact FROM base),
       |salts(t) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7)),
       |pri AS (SELECT t, id, w,
       |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(
       |        'ps' || t || ':' || CAST(id AS VARCHAR) || ':' ||
       |        CAST((id % 1000003) * (id % 1000003) AS VARCHAR), ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      $FpByteFold) % 1048576) + 1 AS r
       |  FROM base CROSS JOIN salts),
       |rk AS MATERIALIZED (SELECT t, id, w, r,
       |    row_number() OVER (PARTITION BY t
       |      ORDER BY CAST(w AS DOUBLE) / r DESC, id) AS rn
       |  FROM pri),
       |tau AS (SELECT t, w AS wt, r AS rt FROM rk WHERE rn = 65),
       |es AS MATERIALIZED (SELECT rk.t,
       |    CAST(sum(greatest(rk.w * tau.rt, tau.wt * 1048576)) AS BIGINT)
       |      // tau.rt AS e
       |  FROM rk JOIN tau ON tau.t = rk.t WHERE rk.rn <= 64
       |  GROUP BY rk.t, tau.rt),
       |pe AS (SELECT CAST(sum(1000 * i) AS BIGINT) AS e,
       |    CAST(count(*) AS BIGINT) AS nk
       |  FROM generate_series(1, 50) s(i))
       |SELECT * FROM (
       |  SELECT 'corpus' AS scope, CAST(t AS BIGINT) AS salt,
       |    CAST(64 AS BIGINT) AS n_kept, e AS est_cents, ex.exact
       |      AS exact_cents,
       |    CAST((CAST(e AS HUGEINT) - ex.exact) * 1000000
       |      // ex.exact AS BIGINT) AS err_ppm
       |  FROM es, ex
       |  UNION ALL
       |  SELECT 'corpus', 99, 512,
       |    CAST(CAST(sum(e) AS HUGEINT) // 8 AS BIGINT), ex.exact,
       |    CAST((CAST(sum(e) AS HUGEINT) // 8 - ex.exact) * 1000000
       |      // ex.exact AS BIGINT)
       |  FROM es, ex GROUP BY ex.exact
       |  UNION ALL
       |  SELECT 'plant', 0, nk, e, e, 0 FROM pe)
       |ORDER BY scope, salt""".stripMargin

  /** q358's oracle: the shared NB score chain, per-scope (score, label)
    * histograms, the tie-aware 2U fold via a cumulative window in score
    * order, HUGEINT AUC/Gini divisions. */
  private def q358OracleSql: String =
    s"""WITH $nbScoreChainSql,
       |hh AS (SELECT 'corpus' AS scope, score,
       |    CAST(sum(heur) AS BIGINT) AS p,
       |    CAST(sum(1 - heur) AS BIGINT) AS n
       |  FROM ds GROUP BY score
       |  UNION ALL SELECT 'plant', score, CAST(sum(y) AS BIGINT),
       |    CAST(sum(1 - y) AS BIGINT)
       |  FROM ps GROUP BY score),
       |cu AS (SELECT scope, score, p, n,
       |    coalesce(sum(n) OVER (PARTITION BY scope ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
       |  FROM hh),
       |ag AS (SELECT scope, CAST(sum(p) AS BIGINT) AS n_pos,
       |    CAST(sum(n) AS BIGINT) AS n_neg,
       |    CAST(count(*) AS BIGINT) AS n_scores,
       |    sum(CAST(p AS HUGEINT) * (2 * nb + n)) AS u2
       |  FROM cu GROUP BY scope)
       |SELECT scope, n_pos, n_neg, n_scores,
       |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(u2 * 1000000
       |      // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
       |    END AS auc_ppm,
       |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(u2 * 1000000
       |      // (CAST(n_pos AS HUGEINT) * n_neg) - 1000000 AS BIGINT)
       |    END AS gini_ppm
       |FROM ag ORDER BY scope""".stripMargin

  /** q359's oracle: the same mixed (key, shard) weights via FpByteFold,
    * argmax by list_position over the 8- and 9-shard weight lists, the
    * stacked scope counts and the move row. */
  private def q359OracleSql: String = {
    def w(n: Int): String =
      s"""list_transform(generate_series(0, ${n - 1}), sh ->
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(
         |      'rv:' || CAST(doc_id AS VARCHAR) || ':' ||
         |      CAST(sh AS VARCHAR) || ':' ||
         |      CAST(((doc_id + sh * 131) % 1000003) *
         |           ((doc_id + sh * 131) % 1000003) AS VARCHAR) || ':' ||
         |      CAST(((doc_id * 7 + sh) % 999983) *
         |           ((doc_id * 7 + sh) % 999983) AS VARCHAR), ''),
         |      c -> CAST(ascii(c) AS BIGINT))),
         |    $FpByteFold))""".stripMargin
    s"""WITH a AS MATERIALIZED (SELECT doc_id,
       |    CAST(list_position(w8, list_max(w8)) - 1 AS BIGINT) AS s8,
       |    CAST(list_position(w9, list_max(w9)) - 1 AS BIGINT) AS s9
       |  FROM (SELECT doc_id, ${w(8)} AS w8, ${w(9)} AS w9
       |    FROM documents)),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM a),
       |sc AS (SELECT scope, shard, CAST(count(*) AS BIGINT) AS n_keys
       |  FROM (SELECT 'n8' AS scope, s8 AS shard FROM a
       |    UNION ALL SELECT 'n9', s9 FROM a)
       |  GROUP BY scope, shard),
       |mv AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM a
       |  WHERE s8 <> s9)
       |SELECT scope, shard, n_keys, n_keys * 1000000 // n.total
       |  AS share_ppm
       |FROM sc, n
       |UNION ALL
       |SELECT 'move', CAST(-1 AS BIGINT), mv.n_keys,
       |  mv.n_keys * 1000000 // n.total
       |FROM mv, n
       |ORDER BY scope, shard""".stripMargin
  }

  /** q360's oracle: the plant VALUES, the squared-tail parity sample
    * flag, ONE (lang, gram) fold carrying both the full count and the
    * sampled count, the bias-corrected Chao1 and signed error. */
  private def q360OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    val plantRows = graft.ops.CorpusOps.ChaoPlant.map {
      case (id, lang, t) => s"(CAST($id AS BIGINT), '$lang', '$t')"
    }.mkString(",\n    ")
    s"""WITH pl(doc_id, lang, txt) AS (VALUES
       |    $plantRows),
       |corpus AS (SELECT doc_id, lang, text FROM documents
       |  UNION ALL SELECT doc_id, lang, txt FROM pl),
       |b AS (SELECT lang,
       |    CASE WHEN doc_id < 0 THEN 1
       |      WHEN ${fp("'ch:' || CAST(doc_id AS VARCHAR) || ':' || CAST((doc_id % 1000003) * (doc_id % 1000003) AS VARCHAR)")} % 2 = 0
       |      THEN 1 ELSE 0 END AS in_samp,
       |    string_split(text, ' ') AS ws
       |  FROM corpus),
       |g AS (SELECT lang, in_samp,
       |    unnest(list_transform(generate_series(1, len(ws) - 2),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
       |  FROM b WHERE len(ws) >= 3),
       |gc AS (SELECT lang, g, CAST(sum(in_samp) AS BIGINT) AS n_samp
       |  FROM g GROUP BY lang, g),
       |per AS (SELECT lang, CAST(count(*) AS BIGINT) AS d_full,
       |    CAST(sum(CASE WHEN n_samp > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS d_samp,
       |    CAST(sum(CASE WHEN n_samp = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n1,
       |    CAST(sum(CASE WHEN n_samp = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n2
       |  FROM gc GROUP BY lang)
       |SELECT lang, d_samp, n1, n2,
       |  d_samp + n1 * (n1 - 1) // (2 * (n2 + 1)) AS chao1, d_full,
       |  (d_samp + n1 * (n1 - 1) // (2 * (n2 + 1)) - d_full) * 1000000
       |    // d_full AS err_ppm
       |FROM per ORDER BY lang""".stripMargin
  }

  /** q361's oracle: presence sets from the shared plant-gram CTE, the
    * 2×2 χ² at ×1000 scale over all 256 buckets (absent buckets rank
    * with χ² = 0), top-8 with corpus occurrence counts from the shared
    * corpus-gram CTE. */
  private def q361OracleSql: String =
    s"""WITH $nbScoreChainSql,
       |pres AS (SELECT DISTINCT doc_id, y, bucket FROM pg),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS na,
       |    CAST(sum(y) AS BIGINT) AS n1 FROM pw),
       |ct AS (SELECT bk.bucket,
       |    CAST(coalesce(sum(CASE WHEN pres.y = 1 THEN 1 END), 0) AS BIGINT)
       |      AS pa,
       |    CAST(coalesce(sum(CASE WHEN pres.y = 0 THEN 1 END), 0) AS BIGINT)
       |      AS pc
       |  FROM (SELECT CAST(unnest(generate_series(0, 255)) AS BIGINT)
       |      AS bucket) bk
       |  LEFT JOIN pres ON pres.bucket = bk.bucket
       |  GROUP BY bk.bucket),
       |ch AS (SELECT bucket, pa, n1 - pa AS pb, pc, (na - n1) - pc AS pd,
       |    CASE WHEN (pa + pc) * ((n1 - pa) + ((na - n1) - pc))
       |        * n1 * (na - n1) = 0 THEN CAST(0 AS BIGINT)
       |      ELSE na * (pa * ((na - n1) - pc) - (n1 - pa) * pc)
       |        * (pa * ((na - n1) - pc) - (n1 - pa) * pc) * 1000
       |        // ((pa + pc) * ((n1 - pa) + ((na - n1) - pc))
       |          * n1 * (na - n1)) END AS chi
       |  FROM ct, nn),
       |tp AS (SELECT * FROM (SELECT bucket, chi, pa, pb, pc, pd,
       |      row_number() OVER (ORDER BY chi DESC, bucket) AS rnk FROM ch)
       |  WHERE rnk <= 8),
       |oc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS hits
       |  FROM dg GROUP BY bucket),
       |ot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM dg)
       |SELECT CAST(tp.rnk AS BIGINT) AS rank, tp.bucket,
       |  tp.chi AS chi2_milli, tp.pa AS a_pos_with, tp.pb AS b_pos_without,
       |  tp.pc AS c_neg_with, tp.pd AS d_neg_without,
       |  coalesce(oc.hits, 0) AS corpus_hits,
       |  CASE WHEN ot.total = 0 THEN CAST(0 AS BIGINT)
       |    ELSE coalesce(oc.hits, 0) * 1000000 // ot.total END
       |    AS corpus_hit_ppm
       |FROM tp LEFT JOIN oc USING (bucket), ot
       |ORDER BY rank""".stripMargin

  /** q362's oracle: parity score histograms off the shared NB chain,
    * exact baseline deciles, count-of-edges band assignment, the
    * rotated plant, and the quarter-bit HUGEINT PSI sum. */
  private def q362OracleSql: String = {
    def qb(num: String, den: String): String =
      s"""length(bin((CAST($num AS HUGEINT) * $num * $num * $num)
         |  // (CAST($den AS HUGEINT) * $den * $den * $den))) - 1"""
        .stripMargin
    s"""WITH $nbScoreChainSql,
       |h AS MATERIALIZED (SELECT ds.doc_id % 2 AS par, ds.score,
       |    CAST(count(*) AS BIGINT) AS cnt FROM ds GROUP BY 1, 2),
       |bh AS MATERIALIZED (SELECT score, cnt,
       |    sum(cnt) OVER (ORDER BY score) AS cum FROM h WHERE par = 0),
       |nb AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM bh),
       |ed AS MATERIALIZED (SELECT d, (SELECT min(score) FROM bh, nb
       |    WHERE cum >= greatest(1, d * nb.n // 10)) AS e
       |  FROM (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS d)),
       |bb AS (SELECT band, CAST(sum(cnt) AS BIGINT) AS c FROM (
       |    SELECT (SELECT count(*) FROM ed WHERE ed.e < bh.score) AS band,
       |      cnt FROM bh) GROUP BY band),
       |cc AS (SELECT band, CAST(sum(cnt) AS BIGINT) AS c FROM (
       |    SELECT (SELECT count(*) FROM ed WHERE ed.e < h.score) AS band,
       |      cnt FROM h WHERE par = 1) GROUP BY band),
       |bands AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT)
       |    AS band),
       |bsx AS MATERIALIZED (SELECT bands.band, coalesce(bb.c, 0) AS c
       |  FROM bands LEFT JOIN bb USING (band)),
       |sides AS (SELECT 'null' AS scope, bands.band, coalesce(cc.c, 0) AS c
       |    FROM bands LEFT JOIN cc USING (band)
       |  UNION ALL SELECT 'plant', (band + 2) % 10, c FROM bsx),
       |tq AS (SELECT scope, CAST(sum(c) AS BIGINT) AS n
       |  FROM sides GROUP BY scope),
       |pq AS (SELECT sides.scope, sides.band,
       |    greatest(b2.c * 1000000 // nb.n, 1) AS p,
       |    greatest(sides.c * 1000000 // tq.n, 1) AS q
       |  FROM sides JOIN bsx b2 ON b2.band = sides.band
       |  JOIN tq ON tq.scope = sides.scope, nb),
       |cb AS MATERIALIZED (SELECT scope, band, p, q,
       |    (p - q) * (CASE WHEN p >= q THEN ${qb("p", "q")}
       |      ELSE -(${qb("q", "p")}) END) AS contrib
       |  FROM pq),
       |psx AS (SELECT scope, CAST(sum(contrib) AS BIGINT) AS psi
       |  FROM cb GROUP BY scope)
       |SELECT cb.scope, cb.band, cb.p AS p_ppm, cb.q AS q_ppm,
       |  CAST(cb.contrib AS BIGINT) AS contrib, psx.psi,
       |  CASE WHEN psx.psi >= 1442695 THEN CAST(2 AS BIGINT)
       |    WHEN psx.psi >= 577078 THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS verdict
       |FROM cb JOIN psx USING (scope) ORDER BY cb.scope, cb.band"""
      .stripMargin
  }

  /** q364's oracle: a DIFFERENT exact algorithm from the Spark suffix
    * array — the aligned L-gram run reduction. A cross-doc common
    * substring of length m >= L is exactly a maximal run of m-L+1
    * consecutive equal L-grams on one (doc_a, doc_b, offset-delta)
    * diagonal, so gaps-and-islands over the gram self-join recovers
    * every span exactly; per-doc max over the `da` side covers both
    * directions because the join keeps both orders. The gram join is
    * fine HERE (the oracle runs on the bounded sf0.01 fixture) and
    * deliberately NOT the Spark path — a hot gram is quadratic, which
    * is the published reason the suffix array exists. */
  private def q364OracleSql: String = {
    val l = graft.ops.DedupOps.SfxMinSpan
    val plants = (graft.ops.DedupOps.SuffixPlant ++
        graft.ops.SuffixArrayOps.DodgePlant)
      .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
      .mkString(",\n        |          ")
    raw"""WITH d AS MATERIALIZED (
      |  SELECT doc_id, regexp_replace(coalesce(text, ''), ' {2,}', ' ', 'g') AS na
      |  FROM (SELECT doc_id, text FROM documents
      |        UNION ALL SELECT * FROM (VALUES $plants) v(doc_id, text))),
      |g AS MATERIALIZED (
      |  SELECT doc_id, off, substr(na, off, $l) AS gram
      |  FROM (SELECT doc_id, na,
      |          unnest(generate_series(1, length(na) - ${l - 1})) AS off
      |        FROM d WHERE length(na) >= $l)),
      |m AS (SELECT a.doc_id AS da, a.off AS oa, b.doc_id AS db, b.off AS ob
      |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
      |runs AS (SELECT da, CAST(${l - 1} + count(*) AS BIGINT) AS span
      |  FROM (SELECT da, db, oa - ob AS diag, oa,
      |          oa - row_number() OVER (PARTITION BY da, db, oa - ob
      |                                  ORDER BY oa) AS isl
      |        FROM m)
      |  GROUP BY da, db, diag, isl),
      |pd AS (SELECT da AS doc_id, max(span) AS max_xdoc_span
      |       FROM runs GROUP BY da)
      |SELECT p.doc_id, CAST(length(d.na) AS BIGINT) AS n_sfx, p.max_xdoc_span
      |FROM pd p JOIN d USING (doc_id)
      |WHERE p.max_xdoc_span >= $l
      |ORDER BY p.doc_id""".stripMargin
  }

  /** q370's oracle: the width-L run-membership collapse replayed
    * directly — every L-gram offset whose gram also occurs in a
    * smaller doc marks [off, off+L), the q349 island union merges the
    * marks, and the kept text re-assembles with its length and md5
    * (kept_chars is the cross-engine mass-conservation witness). */
  private def q370OracleSql: String = {
    val l = graft.ops.DedupOps.SfxMinSpan
    val plants = (graft.ops.DedupOps.SuffixPlant ++
        graft.ops.SuffixArrayOps.DodgePlant)
      .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
      .mkString(",\n        |          ")
    raw"""WITH base AS MATERIALIZED (
      |  SELECT doc_id, regexp_replace(coalesce(text, ''), ' {2,}', ' ', 'g') AS na
      |  FROM (SELECT doc_id, text FROM documents
      |        UNION ALL SELECT * FROM (VALUES $plants) v(doc_id, text))),
      |g AS MATERIALIZED (
      |  SELECT doc_id, off, substr(na, off, $l) AS gram
      |  FROM (SELECT doc_id, na,
      |          unnest(generate_series(1, length(na) - ${l - 1})) AS off
      |        FROM base WHERE length(na) >= $l)),
      |mk AS MATERIALIZED (
      |  SELECT doc_id, CAST(off AS BIGINT) AS st, CAST(off + $l AS BIGINT) AS en
      |  FROM (SELECT doc_id, off,
      |          min(doc_id) OVER (PARTITION BY gram) AS dmin FROM g)
      |  WHERE dmin < doc_id),
      |isl AS MATERIALIZED (SELECT doc_id, island,
      |    min(st) AS ist, max(en) AS ien
      |  FROM (SELECT *, sum(new_i) OVER (PARTITION BY doc_id
      |      ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      CURRENT ROW) AS island
      |    FROM (SELECT *, CASE WHEN max(en) OVER (PARTITION BY doc_id
      |          ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND
      |          1 PRECEDING) IS NULL
      |        OR st > max(en) OVER (PARTITION BY doc_id ORDER BY st, en
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |        THEN 1 ELSE 0 END AS new_i
      |      FROM mk))
      |  GROUP BY doc_id, island),
      |sg AS (SELECT isl.doc_id, ist, ien,
      |    lag(ien, 1, CAST(1 AS BIGINT)) OVER (PARTITION BY isl.doc_id
      |      ORDER BY ist) AS prev_ien,
      |    base.na
      |  FROM isl JOIN base USING (doc_id)),
      |fin AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
      |    CAST(sum(ien - ist) AS BIGINT) AS chars_flagged,
      |    CAST(max(length(na)) AS BIGINT) AS n_chars,
      |    string_agg(substr(na, CAST(prev_ien AS INT),
      |      CAST(ist - prev_ien AS INT)), '' ORDER BY ist) AS head_segs,
      |    max(na) AS na_m, max(ien) AS last_en
      |  FROM sg GROUP BY doc_id)
      |SELECT doc_id, n_islands, chars_flagged, n_chars,
      |  (n_chars - chars_flagged) * 1000000 // n_chars AS keep_ppm,
      |  CAST(length(head_segs || substr(na_m, CAST(last_en AS INT)))
      |    AS BIGINT) AS kept_chars,
      |  md5(head_segs || substr(na_m, CAST(last_en AS INT)))
      |    AS stripped_md5
      |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** q375's oracle: the q370 strip chain instantiated TWICE — pass 1
    * re-assembles the stripped corpus (plus the seam plant), pass 2
    * re-detects over it and reports what a second strip would remove. */
  private def q375OracleSql: String = {
    val l = graft.ops.DedupOps.SfxMinSpan
    val plants = (graft.ops.DedupOps.SuffixPlant ++
        graft.ops.SuffixArrayOps.DodgePlant ++
        graft.ops.SuffixArrayOps.SeamPlant)
      .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
      .mkString(",\n        |          ")
    def passBlock(src: String, x: String): String =
      s"""g$x AS MATERIALIZED (
         |  SELECT doc_id, off, substr(na, off, $l) AS gram
         |  FROM (SELECT doc_id, na,
         |          unnest(generate_series(1, length(na) - ${l - 1})) AS off
         |        FROM $src WHERE length(na) >= $l)),
         |mk$x AS MATERIALIZED (
         |  SELECT doc_id, CAST(off AS BIGINT) AS st, CAST(off + $l AS BIGINT) AS en
         |  FROM (SELECT doc_id, off,
         |          min(doc_id) OVER (PARTITION BY gram) AS dmin FROM g$x)
         |  WHERE dmin < doc_id),
         |isl$x AS MATERIALIZED (SELECT doc_id, island,
         |    min(st) AS ist, max(en) AS ien
         |  FROM (SELECT *, sum(new_i) OVER (PARTITION BY doc_id
         |      ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      CURRENT ROW) AS island
         |    FROM (SELECT *, CASE WHEN max(en) OVER (PARTITION BY doc_id
         |          ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND
         |          1 PRECEDING) IS NULL
         |        OR st > max(en) OVER (PARTITION BY doc_id ORDER BY st, en
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |        THEN 1 ELSE 0 END AS new_i
         |      FROM mk$x))
         |  GROUP BY doc_id, island),
         |sg$x AS (SELECT isl$x.doc_id, ist, ien,
         |    lag(ien, 1, CAST(1 AS BIGINT)) OVER (PARTITION BY isl$x.doc_id
         |      ORDER BY ist) AS prev_ien,
         |    $src.na
         |  FROM isl$x JOIN $src USING (doc_id)),
         |fin$x AS MATERIALIZED (SELECT doc_id, n_islands, chars_flagged,
         |    n_chars,
         |    head_segs || substr(na_m, CAST(last_en AS INT)) AS stripped
         |  FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
         |      CAST(sum(ien - ist) AS BIGINT) AS chars_flagged,
         |      CAST(max(length(na)) AS BIGINT) AS n_chars,
         |      string_agg(substr(na, CAST(prev_ien AS INT),
         |        CAST(ist - prev_ien AS INT)), '' ORDER BY ist) AS head_segs,
         |      max(na) AS na_m, max(ien) AS last_en
         |    FROM sg$x GROUP BY doc_id))""".stripMargin
    raw"""WITH base AS MATERIALIZED (
      |  SELECT doc_id, regexp_replace(coalesce(text, ''), ' {2,}', ' ', 'g') AS na
      |  FROM (SELECT doc_id, text FROM documents
      |        UNION ALL SELECT * FROM (VALUES $plants) v(doc_id, text))),
      |${passBlock("base", "1")},
      |base2 AS MATERIALIZED (SELECT doc_id, na FROM (
      |    SELECT doc_id, stripped AS na FROM fin1
      |    UNION ALL
      |    SELECT doc_id, na FROM base
      |    WHERE doc_id NOT IN (SELECT doc_id FROM fin1))
      |  WHERE length(na) > 0),
      |${passBlock("base2", "2")}
      |SELECT doc_id, n_islands, chars_flagged, n_chars,
      |  (n_chars - chars_flagged) * 1000000 // n_chars AS keep_ppm,
      |  CAST(length(stripped) AS BIGINT) AS kept_chars,
      |  md5(stripped) AS stripped_md5
      |FROM fin2 ORDER BY doc_id""".stripMargin
  }

  /** q363's oracle: the two generate_series Bernoulli plants + the
    * q291 treatment stream ranked by custkey, per-batch folds, a
    * cumulative-LLR window and the first Wald boundary crossing. */
  private def q363OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    val ip = graft.ops.PipelineOps.SprtIncPos
    val in_ = graft.ops.PipelineOps.SprtIncNeg
    val bd = graft.ops.PipelineOps.SprtBound
    def plant(scope: String, salt: String, rate: Long): String =
      s"""SELECT '$scope' AS scope, (i - 1) // 250 AS b,
         |  CASE WHEN ${fp(s"'$salt:' || CAST(i AS VARCHAR) || ':' || CAST((i % 1000003) * (i % 1000003) AS VARCHAR)")}
         |    % 1000000 < $rate THEN 1 ELSE 0 END AS c
         |FROM generate_series(1, 2000) t(i)""".stripMargin
    s"""WITH trials AS MATERIALIZED (
       |  ${plant("null", "sn", 300000L)}
       |  UNION ALL
       |  ${plant("effect", "se", 360000L)}
       |  UNION ALL
       |  SELECT 'corpus', (rn - 1) // 250 AS b, c FROM (
       |    SELECT row_number() OVER (ORDER BY k) AS rn,
       |      CASE WHEN nat OR boost THEN 1 ELSE 0 END AS c
       |    FROM (SELECT k, nat,
       |        (f1 * f1 // 65536) % 2 AS arm1,
       |        (fb * fb // 65536) % 2 = 0 AS boost
       |      FROM (SELECT CAST(c_custkey AS BIGINT) AS k,
       |        coalesce(m.mx, 0) >= 46500000 AS nat,
       |        ${fp("'exp1:' || CAST(CAST(c_custkey AS BIGINT) AS VARCHAR)")}
       |          AS f1,
       |        ${fp("'boost:' || CAST(CAST(c_custkey AS BIGINT) AS VARCHAR)")}
       |          AS fb
       |      FROM customer LEFT JOIN (SELECT CAST(o_custkey AS BIGINT) AS k,
       |          max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
       |        FROM orders GROUP BY 1) m ON CAST(c_custkey AS BIGINT) = m.k))
       |    WHERE arm1 = 1)),
       |bt AS MATERIALIZED (SELECT scope, b, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(c) AS BIGINT) AS k FROM trials GROUP BY scope, b),
       |ll AS MATERIALIZED (SELECT scope, b,
       |    sum(n) OVER w AS cn, sum(k) OVER w AS ck,
       |    (sum(k) OVER w) * $ip + (sum(n) OVER w - sum(k) OVER w) * ($in_)
       |      AS llr
       |  FROM bt WINDOW w AS (PARTITION BY scope ORDER BY b)),
       |fc AS (SELECT scope, min(b) AS bdec FROM ll
       |  WHERE llr >= $bd OR llr <= -$bd GROUP BY scope),
       |tot AS (SELECT scope, CAST(sum(n) AS BIGINT) AS nt,
       |    CAST(sum(k) AS BIGINT) AS kt, max(b) AS bmax
       |  FROM bt GROUP BY scope)
       |SELECT tot.scope, tot.nt AS n_trials, tot.kt AS n_conv,
       |  CASE WHEN tot.nt = 0 THEN CAST(0 AS BIGINT)
       |    ELSE tot.kt * 1000000 // tot.nt END AS rate_ppm,
       |  CAST(CASE WHEN fc.bdec IS NULL THEN 0
       |    WHEN ll.llr >= $bd THEN 1 ELSE -1 END AS BIGINT) AS decision,
       |  CAST(coalesce(fc.bdec, -1) AS BIGINT) AS batch_dec,
       |  CAST(CASE WHEN fc.bdec IS NULL THEN tot.nt ELSE ll.cn END
       |    AS BIGINT) AS n_dec,
       |  CAST(ll.llr AS BIGINT) AS llr_dec,
       |  CAST($bd AS BIGINT) AS bound
       |FROM tot LEFT JOIN fc ON fc.scope = tot.scope
       |LEFT JOIN ll ON ll.scope = tot.scope
       |  AND ll.b = coalesce(fc.bdec, tot.bmax)
       |ORDER BY tot.scope""".stripMargin
  }

  private def q305OracleSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN list_contains(ws, 'spark') THEN 1 ELSE 0
        |      END) AS BIGINT) AS df0,
        |    CAST(sum(CASE WHEN list_contains(ws, 'merge') THEN 1 ELSE 0
        |      END) AS BIGINT) AS df1,
        |    CAST(sum(CASE WHEN list_contains(ws, 'hash') THEN 1 ELSE 0
        |      END) AS BIGINT) AS df2
        |  FROM d),
        |tf AS (SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> w = 'spark')) AS BIGINT) AS tf0,
        |    CAST(len(list_filter(ws, w -> w = 'merge')) AS BIGINT) AS tf1,
        |    CAST(len(list_filter(ws, w -> w = 'hash')) AS BIGINT) AS tf2
        |  FROM d WHERE doc_id <> 0),
        |lex AS (SELECT doc_id,
        |    CASE WHEN tf0 > 0 THEN (n * 1000000 // (df0 + 1))
        |      * (tf0 * 2000000 // (tf0 + 1)) // 1000000 ELSE 0 END +
        |    CASE WHEN tf1 > 0 THEN (n * 1000000 // (df1 + 1))
        |      * (tf1 * 2000000 // (tf1 + 1)) // 1000000 ELSE 0 END +
        |    CASE WHEN tf2 > 0 THEN (n * 1000000 // (df2 + 1))
        |      * (tf2 * 2000000 // (tf2 + 1)) // 1000000 ELSE 0 END AS score
        |  FROM tf, st),
        |lr AS (SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex FROM lex),
        |e AS (SELECT CAST(vec_id AS BIGINT) AS doc_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |qv AS (SELECT q AS qv FROM e WHERE doc_id = 0),
        |vs AS (SELECT e.doc_id,
        |    CAST(list_sum(list_transform(generate_series(1, len(e.q)),
        |      i -> (e.q[i] - qv.qv[i]) * (e.q[i] - qv.qv[i])))
        |      AS BIGINT) AS d2
        |  FROM e, qv WHERE e.doc_id <> 0),
        |vr AS (SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY d2, doc_id) AS BIGINT) AS r_vec FROM vs),
        |fused AS (SELECT lr.doc_id, lr.r_lex, vr.r_vec,
        |    1000000 // (60 + lr.r_lex) + 1000000 // (60 + vr.r_vec)
        |      AS rrf_ppm
        |  FROM lr JOIN vr ON lr.doc_id = vr.doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id)
        |    AS BIGINT) AS rank,
        |  doc_id, r_lex, r_vec, rrf_ppm
        |FROM fused ORDER BY rrf_ppm DESC, doc_id LIMIT 10""".stripMargin

  /** q323's oracle, generated: the q305/q306 oracle texts embed verbatim
    * as ranked-list subqueries (one definition — the graded lists can
    * never drift from the rankings under audit); grades derive from the
    * exact-distance rank (3/2/1/0 bands at 3/10/30), DCG uses the same
    * ⌊1e6/log2(i+1)⌋ literals as [[graft.ops.SimilarityOps.InvLogPpm]],
    * IDCG normalizes per list length. */
  private def q323OracleSql: String = {
    val invRows = graft.ops.SimilarityOps.InvLogPpm.zipWithIndex
      .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
    s"""WITH inv(rk, w) AS (VALUES $invRows),
       |rrfl AS MATERIALIZED (SELECT rank, doc_id FROM ($q305OracleSql)),
       |mmrl AS MATERIALIZED (SELECT rank, doc_id FROM ($q306OracleSql)),
       |ne AS (SELECT CAST(vec_id AS BIGINT) AS doc_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |nqv AS (SELECT q AS qv FROM ne WHERE doc_id = 0),
       |nds AS (SELECT ne.doc_id,
       |    CAST(list_sum(list_transform(generate_series(1, len(ne.q)),
       |      i -> (ne.q[i] - nqv.qv[i]) * (ne.q[i] - nqv.qv[i])))
       |      AS BIGINT) AS d2
       |  FROM ne, nqv WHERE ne.doc_id <> 0),
       |rel AS MATERIALIZED (SELECT doc_id, xr,
       |    CASE WHEN xr <= 3 THEN 3 WHEN xr <= 10 THEN 2
       |         WHEN xr <= 30 THEN 1 ELSE 0 END AS g
       |  FROM (SELECT doc_id,
       |      CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT) AS xr
       |    FROM nds)),
       |lists AS (
       |  SELECT 'exact' AS system, xr AS rank, doc_id FROM rel WHERE xr <= 10
       |  UNION ALL SELECT 'rrf', rank, doc_id FROM rrfl
       |  UNION ALL SELECT 'mmr', rank, doc_id FROM mmrl),
       |dcg AS MATERIALIZED (SELECT system, CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(rel.g * inv.w) AS BIGINT) AS dcg_raw
       |  FROM lists JOIN inv ON inv.rk = lists.rank
       |    JOIN rel ON rel.doc_id = lists.doc_id
       |  GROUP BY system),
       |idcg AS (SELECT kk.k,
       |    CAST(sum((CASE WHEN inv.rk <= 3 THEN 3 WHEN inv.rk <= 10 THEN 2
       |      ELSE 1 END) * inv.w) AS BIGINT) AS idcg_raw
       |  FROM (SELECT DISTINCT k FROM dcg) kk
       |  JOIN inv ON inv.rk <= kk.k GROUP BY kk.k)
       |SELECT d.system, d.k, d.dcg_raw, i.idcg_raw,
       |  d.dcg_raw * 1000000 // i.idcg_raw AS ndcg_ppm
       |FROM dcg d JOIN idcg i ON i.k = d.k
       |ORDER BY d.system""".stripMargin
  }

  /** q327's oracle, generated: the PrefPlant rows render as VALUES from
    * the SAME Scala constant the Spark query unions (one definition);
    * sessions replay q54's LAG gap rule, candidate stats via a
    * cstat-join, selection contracts as the WHERE clause. */
  private def q327OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    val plantRows = graft.ops.EventOps.PrefPlant.map {
      case (id, uid, us, et, v, p) =>
        s"(CAST($id AS BIGINT), CAST($uid AS BIGINT), CAST($us AS BIGINT), '$et', CAST($v AS DOUBLE), '$p')"
    }.mkString(",\n    ")
    val pii = Seq(graft.ops.PiiPatterns.Email, graft.ops.PiiPatterns.Ipv4,
      graft.ops.PiiPatterns.LongNumber)
      .map(r => s"regexp_matches(f.f_t, '$r')").mkString(" OR ")
    s"""WITH base AS (SELECT CAST(event_id AS BIGINT) AS event_id,
       |    CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS us,
       |    event_type, CAST(value AS DOUBLE) AS value, props FROM events
       |  UNION ALL SELECT * FROM (VALUES
       |    $plantRows)),
       |t AS MATERIALIZED (SELECT *,
       |    CASE WHEN event_type = 'purchase' THEN 'assistant'
       |         WHEN event_type = 'error' THEN 'system'
       |         ELSE 'user' END AS role,
       |    coalesce(props, '') AS txt,
       |    CAST(round(value * 100) AS BIGINT) AS cents,
       |    CAST(sum(CASE WHEN lus IS NULL OR us - lus > 1800000000
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT)
       |      AS conv_idx
       |  FROM (SELECT *, LAG(us) OVER (PARTITION BY user_id
       |      ORDER BY us, event_id) AS lus FROM base)),
       |firsts AS MATERIALIZED (SELECT user_id, conv_idx, role AS f_role,
       |    txt AS f_t
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, conv_idx
       |      ORDER BY us, event_id) AS rn FROM t) WHERE rn = 1),
       |cands AS MATERIALIZED (SELECT user_id, conv_idx, cents, event_id,
       |    ${fp("txt")} AS tfp
       |  FROM t WHERE role = 'assistant'),
       |cstat AS MATERIALIZED (SELECT user_id, conv_idx,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(max(cents) AS BIGINT) AS cmax,
       |    CAST(min(cents) AS BIGINT) AS cmin
       |  FROM cands GROUP BY 1, 2),
       |ext AS (SELECT cs.user_id, cs.conv_idx, cs.n, cs.cmax, cs.cmin,
       |    CAST(sum(CASE WHEN c.cents = cs.cmax THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nmax,
       |    CAST(sum(CASE WHEN c.cents = cs.cmin THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nmin,
       |    max(CASE WHEN c.cents = cs.cmax THEN c.event_id END) AS ch_id,
       |    max(CASE WHEN c.cents = cs.cmax THEN c.tfp END) AS ch_fp,
       |    max(CASE WHEN c.cents = cs.cmin THEN c.event_id END) AS rj_id,
       |    max(CASE WHEN c.cents = cs.cmin THEN c.tfp END) AS rj_fp
       |  FROM cands c JOIN cstat cs USING (user_id, conv_idx)
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT e.user_id, e.conv_idx, ${fp("f.f_t")} AS prompt_fp,
       |  e.n AS n_candidates, e.ch_id AS chosen_id, e.rj_id AS rejected_id,
       |  e.cmax AS chosen_cents, e.cmin AS rejected_cents,
       |  e.cmax - e.cmin AS margin_cents,
       |  CASE WHEN $pii THEN CAST(1 AS BIGINT) ELSE 0 END AS pii_prompt
       |FROM ext e JOIN firsts f USING (user_id, conv_idx)
       |WHERE f.f_role = 'user' AND length(trim(f.f_t)) > 0 AND e.n >= 2
       |  AND e.cmax > e.cmin AND e.nmax = 1 AND e.nmin = 1
       |  AND e.ch_fp <> e.rj_fp
       |ORDER BY user_id, conv_idx""".stripMargin
  }

  /** q332's oracle: both orders (doc_id; middle-square shuffle key) via
    * LAG transition counts per attribute, then the cleared-denominator
    * z² in HUGEINT (the products exceed int64 at n ≈ 5000). */
  private def q332OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    def leg(attr: String, yExpr: String, order: String, orderBy: String) =
      s"""SELECT '$attr' AS attr, '$order' AS order_name,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(y) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN py IS NULL OR py <> y THEN 1 ELSE 0 END)
         |    AS BIGINT) AS runs
         |FROM (SELECT y, lag(y) OVER (ORDER BY $orderBy) AS py
         |  FROM (SELECT $yExpr AS y, doc_id, sk FROM b))""".stripMargin
    s"""WITH b AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN CAST(substr(source, 4) AS BIGINT) < 10
       |      THEN CAST(1 AS BIGINT) ELSE 0 END AS lo,
       |    CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
       |      THEN CAST(1 AS BIGINT) ELSE 0 END AS s2,
       |    ${fp("'shuf:' || CAST(doc_id AS VARCHAR) || ':' || CAST((doc_id % 1000003) * (doc_id % 1000003) AS VARCHAR)")} AS sk
       |  FROM documents),
       |legs AS (
       |  ${leg("src_even", "s2", "natural", "doc_id")}
       |  UNION ALL ${leg("src_even", "s2", "shuffled", "sk, doc_id")}
       |  UNION ALL ${leg("src_low", "lo", "natural", "doc_id")}
       |  UNION ALL ${leg("src_low", "lo", "shuffled", "sk, doc_id")}),
       |sc AS (SELECT *,
       |    CAST(n AS HUGEINT) * (runs - 1)
       |      - CAST(2 AS HUGEINT) * n1 * (n - n1) AS dev,
       |    (CAST(2 AS HUGEINT) * n1 * (n - n1))
       |      * (CAST(2 AS HUGEINT) * n1 * (n - n1) - n) AS den
       |  FROM legs)
       |SELECT attr, order_name, n, n1 AS n_pos, runs AS n_runs,
       |  CASE WHEN den <= 0 THEN CAST(-1 AS BIGINT)
       |    ELSE CAST(CAST(1000 AS HUGEINT) * dev * dev * (n - 1) // den
       |      AS BIGINT) END AS z2_milli,
       |  CASE WHEN dev > 0 THEN CAST(1 AS BIGINT)
       |       WHEN dev < 0 THEN -1 ELSE 0 END AS z_sign,
       |  CASE WHEN den > 0
       |      AND CAST(1000 AS HUGEINT) * dev * dev * (n - 1) // den < 3842
       |    THEN CAST(1 AS BIGINT) ELSE 0 END AS looks_random
       |FROM sc ORDER BY attr, order_name""".stripMargin
  }

  /** q331's oracle: running-sum packing offsets by doc_id, the 5-depth
    * grid cross join, nearest-boundary argmin per (context, depth). */
  private def q331OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    s"""WITH p AS MATERIALIZED (
       |  SELECT doc_id, n_toks,
       |    CAST(sum(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS end_off
       |  FROM (SELECT doc_id,
       |      CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |        AS BIGINT) AS n_toks
       |    FROM documents) WHERE n_toks > 0),
       |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total FROM p),
       |pl AS MATERIALIZED (SELECT doc_id,
       |    (end_off - n_toks) // 2048 AS ctx,
       |    (end_off - n_toks) % 2048 AS boff FROM p),
       |g AS (SELECT CAST(unnest([0, 250000, 500000, 750000, 1000000])
       |    AS BIGINT) AS depth_target_ppm),
       |x AS MATERIALIZED (SELECT pl.ctx, g.depth_target_ppm, pl.doc_id,
       |    pl.boff, least(2048, tot.total - pl.ctx * 2048) AS ctx_tokens,
       |    abs(pl.boff - g.depth_target_ppm
       |      * least(2048, tot.total - pl.ctx * 2048) // 1000000) AS drift
       |  FROM pl, g, tot),
       |r AS (SELECT *, row_number() OVER (PARTITION BY ctx, depth_target_ppm
       |      ORDER BY drift, boff, doc_id) AS rk,
       |    CAST(count(*) OVER (PARTITION BY ctx, depth_target_ppm) AS BIGINT)
       |      AS nd
       |  FROM x)
       |SELECT ctx AS context_id, nd AS n_docs,
       |  CAST(ctx_tokens AS BIGINT) AS ctx_tokens, depth_target_ppm,
       |  doc_id AS insert_before_doc, boff AS insert_at_off,
       |  boff * 1000000 // ctx_tokens AS actual_depth_ppm,
       |  CAST(drift AS BIGINT) AS drift_tokens,
       |  ${fp("'needle:' || CAST(ctx AS VARCHAR) || ':' || CAST(depth_target_ppm AS VARCHAR)")}
       |    AS needle_fp
       |FROM r WHERE rk = 1
       |ORDER BY context_id, depth_target_ppm""".stripMargin
  }

  /** q330's oracle: position explode, middle-square span decisions, the
    * covers-OR over ≤ 4 preceding starts, island ordinals, sentinel
    * assembly via ordered string_agg, FpByteFold fingerprints. */
  private def q330OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    s"""WITH p0 AS MATERIALIZED (
       |  SELECT doc_id, CAST(unnest(generate_series(1, len(ws))) - 1 AS BIGINT) AS pos,
       |    unnest(ws) AS w
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |        FROM documents)),
       |mk AS MATERIALIZED (SELECT *,
       |    CASE WHEN h % 20 = 0 THEN CAST(1 AS BIGINT) ELSE 0 END AS is_start,
       |    2 + (h // 20) % 3 AS slen
       |  FROM (SELECT *, (${fp("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")} *
       |      ${fp("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")}) // 65536 AS h
       |    FROM p0)),
       |cv AS MATERIALIZED (SELECT *,
       |    CASE WHEN is_start = 1
       |      OR (coalesce(lag(is_start, 1) OVER dw, 0) = 1
       |          AND coalesce(lag(slen, 1) OVER dw, 0) > 1)
       |      OR (coalesce(lag(is_start, 2) OVER dw, 0) = 1
       |          AND coalesce(lag(slen, 2) OVER dw, 0) > 2)
       |      OR (coalesce(lag(is_start, 3) OVER dw, 0) = 1
       |          AND coalesce(lag(slen, 3) OVER dw, 0) > 3)
       |      THEN CAST(1 AS BIGINT) ELSE 0 END AS corrupted
       |  FROM mk
       |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       |sp AS MATERIALIZED (SELECT *,
       |    CAST(sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
       |      AS span_ord
       |  FROM (SELECT *, CASE WHEN corrupted = 1 AND
       |        coalesce(lag(corrupted, 1) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
       |      THEN CAST(1 AS BIGINT) ELSE 0 END AS new_span FROM cv)),
       |pc AS MATERIALIZED (SELECT *,
       |    CASE WHEN corrupted = 0 THEN w
       |         WHEN new_span = 1
       |         THEN '<extra_id_' || CAST(span_ord - 1 AS VARCHAR) || '>'
       |    END AS input_piece,
       |    CASE WHEN new_span = 1
       |         THEN '<extra_id_' || CAST(span_ord - 1 AS VARCHAR) || '> ' || w
       |         WHEN corrupted = 1 THEN w
       |    END AS target_piece
       |  FROM sp),
       |g AS MATERIALIZED (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(new_span) AS BIGINT) AS n_spans,
       |    CAST(sum(corrupted) AS BIGINT) AS n_corrupted,
       |    coalesce(string_agg(input_piece, ' ' ORDER BY pos)
       |      FILTER (input_piece IS NOT NULL), '') AS inp,
       |    coalesce(string_agg(target_piece, ' ' ORDER BY pos)
       |      FILTER (target_piece IS NOT NULL), '') AS tgt
       |  FROM pc GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_spans, n_corrupted,
       |  n_corrupted * 1000000 // n_tokens AS corrupted_ppm,
       |  ${fp("inp")} AS input_fp,
       |  ${fp("CASE WHEN n_spans = 0 THEN tgt ELSE tgt || ' <extra_id_' || CAST(n_spans AS VARCHAR) || '>' END")}
       |    AS target_fp
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** q329's oracle: middle-square permutation key via FpByteFold, the
    * per-category exclusive-prefix window (the oracle may use the
    * cat-partitioned window the Spark side deliberately avoids — DuckDB
    * has no skew problem at sf), naive vs ordered encodings + MAEs. */
  private def q329OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    s"""WITH o AS MATERIALIZED (
       |  SELECT CAST(o_orderkey AS BIGINT) AS okey,
       |    o_orderpriority AS cat,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders
       |  UNION ALL SELECT * FROM (VALUES
       |    (CAST(-901 AS BIGINT), 'X-PLANT', CAST(99999999 AS BIGINT)))),
       |t AS MATERIALIZED (SELECT *,
       |    CASE WHEN cents >= 46500000 THEN CAST(1 AS BIGINT) ELSE 0 END AS y,
       |    ${fp("'ord:' || CAST(okey AS VARCHAR) || ':' || CAST(((okey % 1000003 + 1000003) % 1000003) * ((okey % 1000003 + 1000003) % 1000003) AS VARCHAR)")} AS pk
       |  FROM o),
       |pr AS (SELECT CAST(sum(y) AS BIGINT) * 1000000
       |    // CAST(count(*) AS BIGINT) AS prior_ppm FROM t),
       |e AS MATERIALIZED (SELECT t.cat, t.y, pr.prior_ppm,
       |    (coalesce(CAST(sum(y) OVER w AS BIGINT), 0) * 1000000
       |      + pr.prior_ppm)
       |      // (CAST(count(*) OVER w AS BIGINT) + 1) AS ordered_ppm
       |  FROM t, pr
       |  WINDOW w AS (PARTITION BY cat ORDER BY pk, okey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |g AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS np,
       |    CAST(sum(ordered_ppm) AS BIGINT) AS osum,
       |    CAST(sum(abs(ordered_ppm - y * 1000000)) AS BIGINT) AS omae,
       |    min(prior_ppm) AS prior_ppm
       |  FROM e GROUP BY cat)
       |SELECT cat AS category, n AS n_rows, np AS n_pos, prior_ppm,
       |  np * 1000000 // n AS naive_enc_ppm,
       |  osum // n AS mean_ordered_ppm,
       |  (np * (1000000 - np * 1000000 // n)
       |    + (n - np) * (np * 1000000 // n)) // n AS mae_naive_ppm,
       |  omae // n AS mae_ordered_ppm,
       |  omae // n - (np * (1000000 - np * 1000000 // n)
       |    + (n - np) * (np * 1000000 // n)) // n AS leak_gap_ppm
       |FROM g ORDER BY category""".stripMargin
  }

  /** q328's oracle: the Lloyd's replay over the lang-joined embedding ∪
    * 'xx'-twin union, then within-cluster language pairs, 4-NN distance
    * sums per side, the distance-form margin, and mutual-best selection. */
  private def q328OracleSql: String = {
    val d2 = "list_sum(list_transform(generate_series(1, len(x.q)), " +
      "i -> (x.q[i] - y.q[i]) * (x.q[i] - y.q[i])))"
    def assign(c: String): String =
      s"""SELECT vec_id, q, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
         |      SELECT e.vec_id, e.q, c.cid,
         |        list_sum(list_transform(generate_series(1, len(e.q)),
         |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
         |      FROM e CROSS JOIN $c c)) WHERE rn = 1""".stripMargin
    s"""WITH e0 AS (SELECT em.vec_id, d.lang,
       |    list_transform(em.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id),
       |e AS MATERIALIZED (
       |  SELECT vec_id, lang, q FROM e0
       |  UNION ALL
       |  SELECT -vid - 1 AS vec_id, 'xx' AS lang,
       |    list_transform(generate_series(1, len(qq)), j -> qq[j] + (vid + j - 1) % 3 - 1) AS q
       |  FROM (SELECT vec_id AS vid, q AS qq FROM e0
       |        WHERE vec_id % 10 = 3 AND lang = 'en')),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
       |       FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 8)),
       |a1 AS (${assign("c0")}),
       |x1 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a1),
       |s1 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
       |       FROM x1 GROUP BY cid, i),
       |u1 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
       |       FROM s1 GROUP BY cid),
       |c1 AS (SELECT c0.cid, coalesce(u1.c, c0.c) AS c FROM c0 LEFT JOIN u1 USING (cid)),
       |a2 AS (${assign("c1")}),
       |x2 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a2),
       |s2 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
       |       FROM x2 GROUP BY cid, i),
       |u2 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
       |       FROM s2 GROUP BY cid),
       |c2 AS (SELECT c1.cid, coalesce(u2.c, c1.c) AS c FROM c1 LEFT JOIN u2 USING (cid)),
       |n AS MATERIALIZED (SELECT f.vec_id, f.q, f.cid, e.lang
       |  FROM (${assign("c2")}) f JOIN e ON e.vec_id = f.vec_id),
       |p AS MATERIALIZED (SELECT x.cid, x.vec_id AS sid, x.lang AS src_lang,
       |    y.vec_id AS tid, CAST($d2 AS BIGINT) AS d2
       |  FROM n x JOIN n y ON x.cid = y.cid
       |  WHERE x.lang <> 'en' AND y.lang = 'en'),
       |ns AS MATERIALIZED (SELECT sid, CAST(sum(d2) AS BIGINT) AS sum_s
       |  FROM (SELECT *, row_number() OVER (PARTITION BY sid ORDER BY d2, tid) AS rk
       |        FROM p)
       |  WHERE rk <= 4 GROUP BY sid HAVING count(*) = 4),
       |nt AS MATERIALIZED (SELECT tid, CAST(sum(d2) AS BIGINT) AS sum_t
       |  FROM (SELECT *, row_number() OVER (PARTITION BY tid ORDER BY d2, sid) AS rk
       |        FROM p)
       |  WHERE rk <= 4 GROUP BY tid HAVING count(*) = 4),
       |sc AS MATERIALIZED (SELECT p.*, ns.sum_s + nt.sum_t - 8 * p.d2 AS margin
       |  FROM p JOIN ns USING (sid) JOIN nt USING (tid)
       |  WHERE ns.sum_s + nt.sum_t - 8 * p.d2 > 0),
       |f AS (SELECT * FROM (SELECT *,
       |    row_number() OVER (PARTITION BY sid ORDER BY margin DESC, tid) AS rk
       |  FROM sc) WHERE rk = 1),
       |b AS (SELECT tid, sid FROM (SELECT *,
       |    row_number() OVER (PARTITION BY tid ORDER BY margin DESC, sid) AS rk
       |  FROM sc) WHERE rk = 1)
       |SELECT f.sid AS src_id, f.src_lang, f.tid AS tgt_id,
       |  f.cid AS cluster_id, f.d2, f.margin
       |FROM f JOIN b ON f.tid = b.tid AND f.sid = b.sid
       |ORDER BY src_id""".stripMargin
  }

  /** q326's oracle: FpByteFold leaf fingerprints (v1 + in-query rev2
    * edit), rolling-fold shard digests in doc order, two 8-ary levels and
    * the root, unioned into the per-node diff table. */
  private def q326OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    val fold = "(a, b) -> (a * 31 + b) % 1000000007"
    def ordFold(v: String, k: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list($v ORDER BY $k)), $fold)"
    s"""WITH d AS MATERIALIZED (SELECT doc_id,
       |    ${fp("coalesce(text, '') || ':' || CAST(doc_id AS VARCHAR)")} AS f1,
       |    CASE WHEN doc_id % 97 = 13
       |      THEN ${fp("coalesce(text, '') || ' [rev2]:' || CAST(doc_id AS VARCHAR)")}
       |      ELSE ${fp("coalesce(text, '') || ':' || CAST(doc_id AS VARCHAR)")}
       |    END AS f2
       |  FROM documents),
       |s0 AS MATERIALIZED (SELECT doc_id // 64 AS node,
       |    CAST(count(*) AS BIGINT) AS n_leaves,
       |    ${ordFold("f1", "doc_id")} AS d1,
       |    ${ordFold("f2", "doc_id")} AS d2
       |  FROM d GROUP BY 1),
       |l1 AS MATERIALIZED (SELECT node // 8 AS parent,
       |    CAST(sum(n_leaves) AS BIGINT) AS n_leaves,
       |    ${ordFold("d1", "node")} AS d1, ${ordFold("d2", "node")} AS d2
       |  FROM s0 GROUP BY 1),
       |l2 AS MATERIALIZED (SELECT node // 8 AS parent,
       |    CAST(sum(n_leaves) AS BIGINT) AS n_leaves,
       |    ${ordFold("d1", "node")} AS d1, ${ordFold("d2", "node")} AS d2
       |  FROM (SELECT parent AS node, n_leaves, d1, d2 FROM l1) GROUP BY 1),
       |rt AS (SELECT CAST(0 AS BIGINT) AS parent,
       |    CAST(sum(n_leaves) AS BIGINT) AS n_leaves,
       |    ${ordFold("d1", "node")} AS d1, ${ordFold("d2", "node")} AS d2
       |  FROM (SELECT parent AS node, n_leaves, d1, d2 FROM l2))
       |SELECT level, node_id, n_leaves, digest_v1, digest_v2,
       |  CASE WHEN digest_v1 <> digest_v2 THEN CAST(1 AS BIGINT) ELSE 0 END
       |    AS changed
       |FROM (
       |  SELECT CAST(0 AS BIGINT) AS level, node AS node_id, n_leaves,
       |    d1 AS digest_v1, d2 AS digest_v2 FROM s0
       |  UNION ALL SELECT 1, parent, n_leaves, d1, d2 FROM l1
       |  UNION ALL SELECT 2, parent, n_leaves, d1, d2 FROM l2
       |  UNION ALL SELECT 3, parent, n_leaves, d1, d2 FROM rt)
       |ORDER BY level, node_id""".stripMargin
  }

  private def q50OracleSql: String =
    raw"""WITH RECURSIVE docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
        |hs AS (SELECT doc_id, list_transform(shingles,
        |         s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                          $FpByteFold)) AS h FROM sh),
        |sig AS (SELECT doc_id, [
        |  list_min(list_transform(h, x -> (3 * x + 1) % 1000000007)),
        |  list_min(list_transform(h, x -> (7 * x + 5) % 1000000007)),
        |  list_min(list_transform(h, x -> (11 * x + 13) % 1000000007)),
        |  list_min(list_transform(h, x -> (17 * x + 29) % 1000000007)),
        |  list_min(list_transform(h, x -> (23 * x + 37) % 1000000007)),
        |  list_min(list_transform(h, x -> (31 * x + 43) % 1000000007)),
        |  list_min(list_transform(h, x -> (41 * x + 53) % 1000000007)),
        |  list_min(list_transform(h, x -> (47 * x + 61) % 1000000007)),
        |  list_min(list_transform(h, x -> (59 * x + 71) % 1000000007)),
        |  list_min(list_transform(h, x -> (67 * x + 79) % 1000000007)),
        |  list_min(list_transform(h, x -> (73 * x + 89) % 1000000007)),
        |  list_min(list_transform(h, x -> (83 * x + 101) % 1000000007))] AS sig FROM hs),
        |bands AS (SELECT doc_id, i AS band_idx,
        |    CAST(sig[3*i + 1] AS VARCHAR) || ':' || CAST(sig[3*i + 2] AS VARCHAR)
        |      || ':' || CAST(sig[3*i + 3] AS VARCHAR) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
        |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM cands JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |  WHERE len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) >= 6),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
        |reach AS (
        |  SELECT doc_id, doc_id AS label FROM nodes
        |  UNION
        |  SELECT e.a AS doc_id, r.label FROM edges e JOIN reach r ON r.doc_id = e.b),
        |lab AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS canonical_id
        |        FROM reach GROUP BY doc_id),
        |sz AS (SELECT canonical_id, count(*) AS cluster_size FROM lab GROUP BY canonical_id)
        |SELECT doc_id, canonical_id, CAST(cluster_size AS BIGINT) AS cluster_size
        |FROM lab JOIN sz USING (canonical_id)
        |ORDER BY doc_id""".stripMargin

  /** q333's oracle: the q50 oracle text embeds verbatim as the cluster
    * subquery (one definition of the dup graph), then both fold keys
    * (q332's squared-tail fingerprint mod 5) and the per-fold doc /
    * dup-cluster counts under naive and group assignment. */
  private def q333OracleSql: String = {
    def fp(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  $FpByteFold)""".stripMargin
    def foldOf(x: String): String =
      fp(s"'fold:' || CAST($x AS VARCHAR) || ':' || " +
        s"CAST(($x % 1000003) * ($x % 1000003) AS VARCHAR)") + " % 5"
    // q50's text concatenates OUTSIDE the stripMargin template: it
    // contains continuation lines that BEGIN with `||`, and a second
    // stripMargin pass would eat one pipe (binder error: `|` operator)
    "WITH cl AS MATERIALIZED (\n  SELECT doc_id, canonical_id FROM (" +
      q50OracleSql + ")),\n" +
    s"""dd AS MATERIALIZED (SELECT doc.doc_id, cl.canonical_id,
       |    coalesce(cl.canonical_id, doc.doc_id) AS grp
       |  FROM documents doc LEFT JOIN cl ON cl.doc_id = doc.doc_id),
       |f AS MATERIALIZED (SELECT *,
       |    ${foldOf("doc_id")} AS nf, ${foldOf("grp")} AS gf FROM dd),
       |dn AS (SELECT nf AS fold, CAST(count(*) AS BIGINT) AS n_docs_naive
       |  FROM f GROUP BY 1),
       |dg AS (SELECT gf AS fold, CAST(count(*) AS BIGINT) AS n_docs_group
       |  FROM f GROUP BY 1),
       |cn AS (SELECT nf AS fold, CAST(count(*) AS BIGINT) AS ncn
       |  FROM (SELECT DISTINCT canonical_id, nf FROM f
       |        WHERE canonical_id IS NOT NULL) GROUP BY 1),
       |cg AS (SELECT gf AS fold, CAST(count(*) AS BIGINT) AS ncg
       |  FROM (SELECT DISTINCT canonical_id, gf FROM f
       |        WHERE canonical_id IS NOT NULL) GROUP BY 1)
       |SELECT CAST(fold AS BIGINT) AS fold,
       |  coalesce(dn.n_docs_naive, 0) AS n_docs_naive,
       |  coalesce(dg.n_docs_group, 0) AS n_docs_group,
       |  coalesce(cn.ncn, 0) AS n_dup_clusters_naive,
       |  coalesce(cg.ncg, 0) AS n_dup_clusters_group
       |FROM dn
       |FULL OUTER JOIN dg USING (fold)
       |FULL OUTER JOIN cn USING (fold)
       |FULL OUTER JOIN cg USING (fold)
       |ORDER BY fold""".stripMargin
  }

  /** q315's oracle, generated: the three IPF rounds unroll into six
    * chained scaling CTEs (a1/b1..a3/b3 — q275's chained-DP discipline);
    * every step is the same truncating `w * (t * 1e6) // Σ n·w` the
    * Spark driver fold computes, so the fixpoint path is bit-identical. */
  private def q315OracleSql: String = {
    val steps = (1 to 3).flatMap { r =>
      val prev = if (r == 1) "w0" else s"b${r - 1}"
      Seq(
        s"""a$r AS MATERIALIZED (SELECT c.lang, c.source, c.n,
           |    c.w * (lt.t * 1000000) // rm.m AS w
           |  FROM $prev c
           |  JOIN (SELECT lang, CAST(sum(n * w) AS BIGINT) AS m
           |        FROM $prev GROUP BY lang) rm ON rm.lang = c.lang
           |  JOIN lt ON lt.lang = c.lang)""".stripMargin,
        s"""b$r AS MATERIALIZED (SELECT c.lang, c.source, c.n,
           |    c.w * (st.t * 1000000) // cm.m AS w
           |  FROM a$r c
           |  JOIN (SELECT source, CAST(sum(n * w) AS BIGINT) AS m
           |        FROM a$r GROUP BY source) cm ON cm.source = c.source
           |  JOIN st ON st.source = c.source)""".stripMargin)
    }.mkString(",\n")
    s"""WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |nt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |lt AS MATERIALIZED (SELECT lang, nt.n // d.L +
       |    CASE WHEN d.rn <= nt.n % d.L THEN 1 ELSE 0 END AS t
       |  FROM (SELECT lang, CAST(row_number() OVER (ORDER BY lang) AS BIGINT) AS rn,
       |          CAST(count(*) OVER () AS BIGINT) AS L
       |        FROM (SELECT DISTINCT lang FROM documents)) d, nt),
       |st AS MATERIALIZED (SELECT source, nt.n // d.L +
       |    CASE WHEN d.rn <= nt.n % d.L THEN 1 ELSE 0 END AS t
       |  FROM (SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS rn,
       |          CAST(count(*) OVER () AS BIGINT) AS L
       |        FROM (SELECT DISTINCT source FROM documents)) d, nt),
       |w0 AS MATERIALIZED (SELECT lang, source, n, CAST(1000000 AS BIGINT) AS w FROM cells),
       |$steps,
       |rm3 AS (SELECT lang, CAST(sum(n * w) AS BIGINT) // 1000000 AS m
       |  FROM b3 GROUP BY lang),
       |cm3 AS (SELECT source, CAST(sum(n * w) AS BIGINT) // 1000000 AS m
       |  FROM b3 GROUP BY source)
       |SELECT c.lang, c.source, c.n AS n_docs, c.w AS weight_ppm,
       |  lt.t AS lang_target, rm3.m AS lang_achieved,
       |  st.t AS source_target, cm3.m AS source_achieved
       |FROM b3 c
       |JOIN lt ON lt.lang = c.lang JOIN rm3 ON rm3.lang = c.lang
       |JOIN st ON st.source = c.source JOIN cm3 ON cm3.source = c.source
       |ORDER BY c.lang, c.source""".stripMargin
  }

  /** q294's oracle, generated: one zone-map CTE block per candidate
    * layout (row_number in layout order → 64 files → min/max zone maps →
    * skipping verdicts per predicate), unioned into the 15-row report
    * (5 layouts × 3 predicates). */
  private def q294OracleSql: String = {
    val layouts = Seq(("1_natural", "okey"), ("2_by_date", "day, okey"),
      ("3_by_cust", "ckey, okey"), ("4_zorder", "zval, okey"),
      ("5_hilbert", "hval, okey"))
    // Hilbert xy2d unrolled as 16 chained CTEs (q275's chained-DP
    // discipline): DuckDB 1.0's list_reduce mis-vectorizes struct
    // accumulators over multi-row batches (single-row evaluation is
    // correct; 16 of 64 cells wrong at 8x8 against the reference), so
    // the recurrence must be column arithmetic, one CTE per level.
    val hilbert = (15 to 0 by -1).map { i =>
      val prev = if (i == 15) "hlseed" else s"hl${i + 1}"
      s"""hl$i AS (SELECT okey, ckey, day, zval,
         |    CASE WHEN ((hy >> $i) & 1) = 0
         |      THEN CASE WHEN ((hx >> $i) & 1) = 1 THEN 65535 - hy ELSE hy END
         |      ELSE hx END AS hx,
         |    CASE WHEN ((hy >> $i) & 1) = 0
         |      THEN CASE WHEN ((hx >> $i) & 1) = 1 THEN 65535 - hx ELSE hx END
         |      ELSE hy END AS hy,
         |    hd + (CAST(1 AS BIGINT) << ${2 * i}) *
         |      (CASE WHEN ((hx >> $i) & 1) = 0 AND ((hy >> $i) & 1) = 0 THEN 0
         |            WHEN ((hx >> $i) & 1) = 0 THEN 1
         |            WHEN ((hy >> $i) & 1) = 1 THEN 2 ELSE 3 END) AS hd
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    val blocks = layouts.map { case (n, o) =>
      val t = n.take(1)
      s"""f$t AS (SELECT (CAST(row_number() OVER (ORDER BY $o) AS BIGINT)
         |      - 1) * 64 // CAST(count(*) OVER () AS BIGINT) AS file,
         |    day, ckey FROM z),
         |m$t AS (SELECT file, min(day) AS mnd, max(day) AS mxd,
         |    min(ckey) AS mnc, max(ckey) AS mxc FROM f$t GROUP BY 1),
         |h$t AS (SELECT CAST(count(*) AS BIGINT) AS nf,
         |    CAST(sum(CASE WHEN NOT (mxd < 2000 OR mnd > 2029)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS h1,
         |    CAST(sum(CASE WHEN NOT (mxc < 40 OR mnc > 49)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS h2,
         |    CAST(sum(CASE WHEN NOT (mxd < 2000 OR mnd > 2029)
         |      AND NOT (mxc < 40 OR mnc > 49)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS h3
         |  FROM m$t)""".stripMargin
    }
    val rows = layouts.flatMap { case (n, _) =>
      val t = n.take(1)
      Seq(("p_date", "h1", "r1"), ("p_cust", "h2", "r2"),
        ("p_both", "h3", "r3")).map { case (p, h, r) =>
        s"SELECT '$n' AS layout, '$p' AS predicate, nf AS n_files, " +
          s"$h AS n_files_hit, $h * 1000000 // nf AS files_ppm, " +
          s"$r * 1000000 // n AS rows_ppm FROM h$t, sel"
      }
    }
    s"""WITH b AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
       |    CAST(o_custkey AS BIGINT) AS ckey,
       |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate
       |      AS DATE)) AS BIGINT) AS day FROM orders),
       |z0 AS (SELECT *,
       |    CAST(list_sum(list_transform(generate_series(0, 15),
       |      i -> (((ckey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
       |         + (((day % 65536) >> i) & 1)
       |           * (CAST(1 AS BIGINT) << (2 * i + 1)))) AS BIGINT) AS zval
       |  FROM b),
       |hlseed AS (SELECT okey, ckey, day, zval, ckey % 65536 AS hx,
       |    day % 65536 AS hy, CAST(0 AS BIGINT) AS hd FROM z0),
       |$hilbert,
       |z AS MATERIALIZED (SELECT okey, ckey, day, zval, hd AS hval FROM hl0),
       |sel AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN day BETWEEN 2000 AND 2029
       |      THEN 1 ELSE 0 END) AS BIGINT) AS r1,
       |    CAST(sum(CASE WHEN ckey BETWEEN 40 AND 49
       |      THEN 1 ELSE 0 END) AS BIGINT) AS r2,
       |    CAST(sum(CASE WHEN day BETWEEN 2000 AND 2029
       |      AND ckey BETWEEN 40 AND 49 THEN 1 ELSE 0 END) AS BIGINT) AS r3
       |  FROM z),
       |${blocks.mkString(",\n")}
       |${rows.mkString("\nUNION ALL ")}
       |ORDER BY layout, predicate""".stripMargin
  }

  /** q306's oracle, generated: the MMR greedy unrolls into 4 chained
    * scored-pick CTE levels after the relevance seed (q289's chained
    * greedy discipline); pairwise candidate distances come from one
    * 8×8 frame. */
  private def q306OracleSql: String = {
    val picks = (2 to 5).map { t =>
      s"""sc$t AS (SELECT c.doc_id, c.d2q, min(pr.d) AS minsel
         |  FROM cands c JOIN pairs pr ON pr.a = c.doc_id
         |    AND pr.b IN (SELECT doc_id FROM sel${t - 1})
         |  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${t - 1})
         |  GROUP BY 1, 2),
         |p$t AS (SELECT doc_id, d2q, minsel,
         |    -500 * d2q + 500 * minsel AS sc
         |  FROM sc$t ORDER BY sc DESC, doc_id LIMIT 1),
         |sel$t AS (SELECT doc_id FROM sel${t - 1}
         |  UNION ALL SELECT doc_id FROM p$t)""".stripMargin
    }
    val outs = (2 to 5).map(t =>
      s"UNION ALL SELECT $t, doc_id, d2q, minsel, sc FROM p$t").mkString("\n")
    s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS doc_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |qv AS (SELECT q AS qv FROM e WHERE doc_id = 0),
       |cd AS (SELECT e.doc_id, e.q,
       |    CAST(list_sum(list_transform(generate_series(1, len(e.q)),
       |      i -> (e.q[i] - qv.qv[i]) * (e.q[i] - qv.qv[i])))
       |      AS BIGINT) AS d2q
       |  FROM e, qv WHERE e.doc_id <> 0),
       |cands AS MATERIALIZED (SELECT doc_id, q, d2q FROM cd
       |  ORDER BY d2q, doc_id LIMIT 8),
       |pairs AS MATERIALIZED (SELECT a.doc_id AS a, b.doc_id AS b,
       |    CAST(list_sum(list_transform(generate_series(1, len(a.q)),
       |      i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS BIGINT) AS d
       |  FROM cands a JOIN cands b ON a.doc_id <> b.doc_id),
       |p1 AS (SELECT doc_id, d2q FROM cands ORDER BY d2q, doc_id LIMIT 1),
       |sel1 AS (SELECT doc_id FROM p1),
       |${picks.mkString(",\n")}
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id,
       |  d2q AS d2_query, CAST(minsel AS BIGINT) AS min_d2_selected,
       |  CAST(sc AS BIGINT) AS mmr_score
       |FROM (SELECT 1 AS rank, doc_id, d2q, -1 AS minsel,
       |    -500 * d2q AS sc FROM p1
       |  $outs)
       |ORDER BY rank""".stripMargin
  }

  /** q308's oracle, generated from the SAME valid-order enumeration
    * (SchemaOps.validOrders — one definition of connectivity); the six
    * subset cardinalities are independent DuckDB join counts. */
  private def q308OracleSql: String = {
    val cname = Map(
      Set("L", "O") -> "clo", Set("L", "P") -> "clp",
      Set("O", "C") -> "coc", Set("L", "O", "C") -> "cloc",
      Set("L", "O", "P") -> "clop", Set("L", "O", "C", "P") -> "cf")
    val rows = graft.operators.SchemaOps.validOrders.map { perm =>
      val cost = (2 to 4).map(k => cname(perm.take(k).toSet)).mkString(" + ")
      s"SELECT '${perm.mkString(">")}' AS join_order, $cost AS cost FROM k"
    }
    s"""WITH k AS (SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
       |      JOIN orders o ON l.l_orderkey = o.o_orderkey) AS clo,
       |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
       |      JOIN part p ON l.l_partkey = p.p_partkey) AS clp,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders o
       |      JOIN customer c ON o.o_custkey = c.c_custkey) AS coc,
       |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
       |      JOIN orders o ON l.l_orderkey = o.o_orderkey
       |      JOIN customer c ON o.o_custkey = c.c_custkey) AS cloc,
       |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
       |      JOIN orders o ON l.l_orderkey = o.o_orderkey
       |      JOIN part p ON l.l_partkey = p.p_partkey) AS clop,
       |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
       |      JOIN orders o ON l.l_orderkey = o.o_orderkey
       |      JOIN customer c ON o.o_custkey = c.c_custkey
       |      JOIN part p ON l.l_partkey = p.p_partkey) AS cf),
       |ords AS (
       |${rows.mkString("\nUNION ALL ")})
       |SELECT CAST(row_number() OVER (ORDER BY cost, join_order)
       |    AS BIGINT) AS rank,
       |  join_order, cost AS cost_rows,
       |  cost * 1000000 // min(cost) OVER () AS vs_best_ppm
       |FROM ords ORDER BY rank""".stripMargin
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  type Query = (SparkSession, String) => DataFrame

  /** The named queries in the given order, or every query by name when
    * `names` is empty. Builds no session, so an unknown name fails before
    * one starts; the error lists the three closest names. */
  def resolve(names: Seq[String]): Seq[(String, Query)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, unknown.map(q =>
      s"unknown query '$q'; closest: ${closest(q, all.keySet).mkString(", ")}").mkString("; "))
    if (names.isEmpty) all.toSeq.sortBy(_._1) else names.distinct.map(n => n -> all(n))
  }

  /** [[resolve]] over `SPARK_GRAFT_ONLY`, a comma-separated name filter. */
  def selected: Seq[(String, Query)] =
    resolve(sys.env.get("SPARK_GRAFT_ONLY").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))

  /** The three query names nearest to `q`: a name containing it (e.g. the
    * bare `q133` of `q133_curriculum`) first, then by edit distance. */
  private def closest(q: String, known: Set[String]): Seq[String] =
    known.toSeq.sortBy(k => (!k.contains(q), editDistance(q, k), k)).take(3)

  private def editDistance(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] = Map(
    "q01_pricing_summary" -> Relational.q01PricingSummary _,
    "q02_filter_project"  -> Relational.q02FilterProject _,
    "q03_join_agg"        -> Relational.q03JoinAgg _,
    "q04_left_join"       -> Relational.q04LeftJoin _,
    "q05_semi_anti"       -> Relational.q05SemiAnti _,
    "q06_window_topk"     -> Relational.q06WindowTopK _,
    "q07_group_concat"    -> Relational.q07GroupConcat _,
    "q08_limit_offset"    -> Relational.q08LimitOffset _,
    "q09_setops"          -> Relational.q09SetOps _,
    "q10_rollup"          -> Relational.q10Rollup _,
    "q11_conditional"     -> Relational.q11Conditional _,
    "q12_strings"         -> Relational.q12Strings _,
    "q13_dates"           -> Relational.q13Dates _,
    "q14_json"            -> Relational.q14Json _,
    "q15_event_lag"       -> Relational.q15EventLag _,
    "q16_event_windows"   -> Relational.q16EventWindows _,
    "q17_multi_join"      -> Relational.q17MultiJoin _,
    "q18_count_validation" -> Relational.q18CountValidation _,
    "q19_math_casts"      -> Relational.q19MathCasts _,
    "q20_above_avg"       -> Relational.q20AboveAvg _,
    "q21_view_dates"      -> Views.q21ViewDates _,
    "q22_view_group_concat" -> Views.q22ViewGroupConcat _,
    "q23_view_conditional" -> Views.q23ViewConditional _,
    "q24_view_json"       -> Views.q24ViewJson _,
    "q25_view_strings"    -> Views.q25ViewStrings _,
    "q26_type_mapping"    -> SchemaOps.q26TypeMapping _,
    "q28_view_datetime"   -> Views.q28ViewDatetime _,
    "q29_view_inet"       -> Views.q29ViewInet _,
    "q27_ddl_convert"     -> SchemaOps.q27DdlConvert _,
    "q30_text_stats"      -> TextOps.q30TextStats _,
    "q31_lang_quality"    -> TextOps.q31LangQuality _,
    "q32_dedup_exact"     -> DedupOps.q32DedupExact _,
    "q33_dedup_jaccard"   -> DedupOps.q33DedupJaccard _,
    "q34_dedup_minhash"   -> DedupOps.q34DedupMinhash _,
    "q35_simhash"         -> TextOps.q35Simhash _,
    "q36_embed_dedup"     -> DedupOps.q36EmbedDedup _,
    "q37_cosine_topk"     -> SimilarityOps.q37CosineTopk _,
    "q38_ann_lsh"         -> SimilarityOps.q38AnnLsh _,
    "q39_embed_stats"     -> SimilarityOps.q39EmbedStats _,
    "q40_multimodal"      -> MultimodalOps.q40Multimodal _,
    "q41_transfer_validate" -> TransferOps.q41TransferValidate _,
    "q42_stored_functions" -> FunctionOps.q42StoredFunctions _,
    "q43_percentiles"     -> Relational.q43Percentiles _,
    "q44_view_math"       -> Views.q44ViewMath _,
    "q45_generator"       -> Relational.q45Generator _,
    "q46_pivot"           -> Relational.q46Pivot _,
    "q47_cube"            -> Relational.q47Cube _,
    "q48_window_ranks"    -> Relational.q48WindowRanks _,
    "q49_tfidf"           -> TextOps.q49Tfidf _,
    "q50_dedup_clusters"  -> DedupOps.q50DedupClusters _,
    "q51_asof_join"       -> EventOps.q51AsofJoin _,
    "q52_range_join"      -> Relational.q52RangeJoin _,
    "q53_ngram_jaccard"   -> DedupOps.q53NgramJaccard _,
    "q54_sessionize"      -> EventOps.q54Sessionize _,
    "q55_stratified_sample" -> TextOps.q55StratifiedSample _,
    "q56_ivf_ann"         -> SimilarityOps.q56IvfAnn _,
    "q57_view_json_mutate" -> Views.q57ViewJsonMutate _,
    "q58_view_elt_field"  -> Views.q58ViewEltField _,
    "q59_bucketed_join"   -> graft.operators.BucketedOps.q59BucketedJoin _,
    "q60_approx_stats"    -> Relational.q60ApproxStats _,
    "q61_sample_topk"     -> TextOps.q61SampleTopk _,
    "q62_range_window"    -> EventOps.q62RangeWindow _,
    "q63_resample"        -> EventOps.q63Resample _,
    "q64_fuzzy_name"      -> DedupOps.q64FuzzyName _,
    "q65_merge_upsert"    -> TransferOps.q65MergeUpsert _,
    "q66_grouping_sets"   -> Relational.q66GroupingSets _,
    "q67_correlated_subq" -> Relational.q67CorrelatedSubquery _,
    "q68_lateral_topk"    -> Relational.q68LateralTopk _,
    "q69_topk_aggregator" -> Relational.q69TopkAggregator _,
    "q70_repetition"      -> CorpusOps.q70Repetition _,
    "q71_df_quality"      -> CorpusOps.q71DfQuality _,
    "q72_salted_agg"      -> CorpusOps.q72SaltedAgg _,
    "q73_vocab_topk"      -> CorpusOps.q73VocabTopk _,
    "q74_corpus_clean"    -> CorpusOps.q74CorpusClean _,
    "q75_tokenize"        -> TextOps.q75Tokenize _,
    "q76_contamination"   -> CorpusOps.q76Contamination _,
    "q77_chunk_dedup"     -> CorpusOps.q77ChunkDedup _,
    "q78_funnel"          -> EventOps.q78Funnel _,
    "q79_keep_best"       -> CorpusOps.q79KeepBest _,
    "q80_sequence_pack"   -> CorpusOps.q80SequencePack _,
    "q81_pii_redact"      -> PipelineOps.q81PiiRedact _,
    "q82_lang_mixture"    -> PipelineOps.q82LangMixture _,
    "q83_shard_assign"    -> PipelineOps.q83ShardAssign _,
    "q84_inverted_index"  -> PipelineOps.q84InvertedIndex _,
    "q85_zorder_layout"   -> PipelineOps.q85ZorderLayout _,
    "q86_quantile_trim"   -> PipelineOps.q86QuantileTrim _,
    "q87_collocations"    -> PipelineOps.q87Collocations _,
    "q88_stratified_split" -> PipelineOps.q88StratifiedSplit _,
    "q89_compaction_plan" -> PipelineOps.q89CompactionPlan _,
    "q90_skew_audit"      -> PipelineOps.q90SkewAudit _,
    "q91_global_deciles"  -> PipelineOps.q91GlobalDeciles _,
    "q92_incr_dedup"      -> PipelineOps.q92IncrementalDedup _,
    "q93_quantize_audit"  -> PipelineOps.q93QuantizeAudit _,
    "q94_dup_gram_coverage" -> PipelineOps.q94DupGramCoverage _,
    "q95_embed_coverage"  -> PipelineOps.q95EmbedCoverage _,
    "q96_chunk_split"     -> PipelineOps.q96ChunkSplit _,
    "q97_lang_agreement"  -> PipelineOps.q97LangAgreement _,
    "q98_corpus_report"   -> PipelineOps.q98CorpusReport _,
    "q99_retention_cohorts" -> EventOps.q99RetentionCohorts _,
    "q100_heavy_hitters"  -> CorpusOps.q100HeavyHitters _,
    "q101_active_window"  -> EventOps.q101ActiveWindow _,
    "q102_snapshot_diff"  -> TransferOps.q102SnapshotDiff _,
    "q103_simhash_neardup" -> DedupOps.q103SimhashNearDup _,
    "q104_partition_prune" -> PipelineOps.q104PartitionPrune _,
    "q105_profile_table"  -> SchemaOps.q105ProfileTable _,
    "q106_kmeans"         -> SimilarityOps.q106Kmeans _,
    "q107_bigram_lm"      -> CorpusOps.q107BigramLm _,
    "q108_kanon_audit"    -> PipelineOps.q108KanonAudit _,
    "q109_nested_export"  -> TransferOps.q109NestedExport _,
    "q110_copurchase"     -> AffinityOps.q110Copurchase _,
    "q111_scd2"           -> TransferOps.q111Scd2 _,
    "q112_first_seen"     -> EventOps.q112FirstSeen _,
    "q113_oov_rate"       -> ((s, d) => CorpusOps.q113OovRate(s, d)),
    "q114_length_histogram" -> TextOps.q114LengthHistogram _,
    "q115_transitions"    -> EventOps.q115Transitions _,
    "q116_abc_classes"    -> PipelineOps.q116AbcClasses _,
    "q117_source_overlap" -> AffinityOps.q117SourceOverlap _,
    "q118_rfm_segments"   -> PipelineOps.q118RfmSegments _,
    "q119_anomaly_p99"    -> EventOps.q119AnomalyP99 _,
    "q120_session_paths"  -> EventOps.q120SessionPaths _,
    "q121_ri_audit"       -> TransferOps.q121RiAudit _,
    "q122_ohlc_bars"      -> EventOps.q122OhlcBars _,
    "q123_item_rank"      -> AffinityOps.q123ItemRank _,
    "q124_schema_evolution" -> SchemaOps.q124SchemaEvolution _,
    "q125_ldiversity"     -> PipelineOps.q125LDiversity _,
    "q126_negative_pairs" -> ((s, d) => PipelineOps.q126NegativePairs(s, d)),
    "q127_time_decay"     -> EventOps.q127TimeDecay _,
    "q128_revenue_reconcile" -> TransferOps.q128RevenueReconcile _,
    "q129_distribution_drift" -> TextOps.q129DistributionDrift _,
    "q130_interarrival"   -> EventOps.q130InterArrival _,
    "q131_mad_outliers"   -> EventOps.q131MadOutliers _,
    "q132_triangles"      -> AffinityOps.q132Triangles _,
    "q133_curriculum"     -> PipelineOps.q133CurriculumInterleave _,
    "q134_bloom_prefilter" -> PipelineOps.q134BloomPrefilter _,
    "q135_pit_join"       -> TransferOps.q135PitJoin _,
    "q136_incr_stats"     -> PipelineOps.q136IncrStats _,
    "q137_salted_join"    -> PipelineOps.q137SaltedJoin _,
    "q138_contam_spans"   -> CorpusOps.q138ContamSpans _,
    "q139_skipgrams"      -> CorpusOps.q139Skipgrams _,
    "q140_ks_drift"       -> TextOps.q140KsDrift _,
    "q141_attribution"    -> EventOps.q141Attribution _,
    "q142_prefix_join"    -> DedupOps.q142PrefixJoin _,
    "q143_weighted_sample" -> TextOps.q143WeightedSample _,
    "q144_compaction_apply" -> PipelineOps.q144CompactionApply _,
    "q145_intra_repetition" -> CorpusOps.q145IntraDocRepetition _,
    "q146_bm25_probe"     -> CorpusOps.q146Bm25Probe _,
    "q147_join_size_audit" -> SchemaOps.q147JoinSizeAudit _,
    "q148_gini_audit"     -> TextOps.q148GiniAudit _,
    "q149_partition_diff" -> TransferOps.q149PartitionDiff _,
    "q150_kanon_repair"   -> PipelineOps.q150KanonRepair _,
    "q151_rebalance_plan" -> PipelineOps.q151RebalancePlan _,
    "q152_group_sample"   -> TextOps.q152GroupSample _,
    "q153_net_effect"     -> EventOps.q153NetEffect _,
    "q154_curation_funnel" -> CorpusOps.q154CurationFunnel _,
    "q155_luhn_audit"      -> PipelineOps.q155LuhnAudit _,
    "q156_url_domains"     -> TextOps.q156UrlDomains _,
    "q157_vocab_coverage"  -> CorpusOps.q157VocabCoverage _,
    "q158_encoding_audit"  -> TextOps.q158EncodingAudit _,
    "q159_blocklist_filter" -> TextOps.q159BlocklistFilter _,
    "q160_length_pair"     -> PipelineOps.q160LengthPair _,
    "q161_forget_audit"    -> PipelineOps.q161ForgetAudit _,
    "q162_feature_hashing" -> PipelineOps.q162FeatureHashing _,
    "q163_prefix_boilerplate" -> DedupOps.q163PrefixBoilerplate _,
    "q164_degree_histogram" -> AffinityOps.q164DegreeHistogram _,
    "q165_burstiness"      -> EventOps.q165Burstiness _,
    "q166_dataset_card"    -> CorpusOps.q166DatasetCard _,
    "q167_mad_lengths"     -> TextOps.q167MadLengthOutliers _,
    "q168_weekly_churn"    -> EventOps.q168WeeklyChurn _,
    "q169_volume_shipping" -> Relational.q169VolumeShipping _,
    "q170_market_share"    -> Relational.q170MarketShare _,
    "q171_product_margin"  -> Relational.q171ProductMargin _,
    "q172_local_supplier"  -> Relational.q172LocalSupplier _,
    "q173_returned_items"  -> Relational.q173ReturnedItems _,
    "q174_custdist"        -> Relational.q174CustDist _,
    "q175_large_volume"    -> Relational.q175LargeVolume _,
    "q176_temporal_split"  -> EventOps.q176TemporalSplit _,
    "q177_ivf_recall"      -> SimilarityOps.q177IvfRecall _,
    "q178_split_leakage"   -> PipelineOps.q178SplitLeakage _,
    "q179_promo_effect"    -> Relational.q179PromoEffect _,
    "q180_top_supplier"    -> Relational.q180TopSupplier _,
    "q181_small_qty"       -> Relational.q181SmallQtyRevenue _,
    "q182_spearman"        -> PipelineOps.q182SpearmanAudit _,
    "q183_copy_matrix"     -> DedupOps.q183CopyMatrix _,
    "q184_audio_windows"   -> MultimodalOps.q184AudioWindows _,
    "q185_frame_dedup"     -> MultimodalOps.q185FrameDedup _,
    "q186_compressibility" -> TextOps.q186Compressibility _,
    "q187_funnel_rates"    -> EventOps.q187FunnelRates _,
    "q188_two_hop"         -> AffinityOps.q188TwoHopReach _,
    "q189_rebalance_apply" -> PipelineOps.q189RebalanceApply _,
    "q190_cluster_sizes"   -> DedupOps.q190ClusterSizes _,
    "q191_vocab_drift"     -> CorpusOps.q191VocabDrift _,
    "q192_audience_overlap" -> EventOps.q192AudienceOverlap _,
    "q193_conversion_latency" -> EventOps.q193ConversionLatency _,
    "q194_supplier_hhi"    -> Relational.q194SupplierHhi _,
    "q195_json_audit"      -> EventOps.q195JsonAudit _,
    "q196_zipf_audit"      -> CorpusOps.q196ZipfAudit _,
    "q197_new_returning"   -> Relational.q197NewVsReturning _,
    "q198_centroid_drift"  -> SimilarityOps.q198CentroidDrift _,
    "q199_order_fanout"    -> Relational.q199OrderFanout _,
    "q200_scorecard"       -> CorpusOps.q200Scorecard _,
    "q201_lang_purity"     -> TextOps.q201LangPurity _,
    "q202_weekday_seasonality" -> EventOps.q202WeekdaySeasonality _,
    "q203_source_terms"    -> CorpusOps.q203SourceTerms _,
    "q204_dup_by_length"   -> CorpusOps.q204DupByLength _,
    "q205_word_lengths"    -> CorpusOps.q205WordLengths _,
    "q206_status_mix"      -> Relational.q206StatusMix _,
    "q207_key_completeness" -> SchemaOps.q207KeyCompleteness _,
    "q208_late_orders"    -> Relational.q208LateOrders _,
    "q209_disjunctive_revenue" -> Relational.q209DisjunctiveRevenue _,
    "q210_dormant_balance" -> Relational.q210DormantBalance _,
    "q211_ship_delay_mix" -> Relational.q211ShipDelayMix _,
    "q212_dim_variance"   -> SimilarityOps.q212DimVariance _,
    "q213_minhash_agreement" -> DedupOps.q213MinhashAgreement _,
    "q214_norm_dedup_delta" -> CorpusOps.q214NormDedupDelta _,
    "q215_window_frames"  -> EventOps.q215WindowFrames _,
    "q216_spend_decile_shift" -> PipelineOps.q216SpendDecileShift _,
    "q217_label_margin"   -> SimilarityOps.q217LabelMargin _,
    "q218_shipping_priority" -> Relational.q218ShippingPriority _,
    "q219_revenue_forecast" -> Relational.q219RevenueForecast _,
    "q220_promotion_suppliers" -> Relational.q220PromotionSuppliers _,
    "q221_blame_supplier" -> Relational.q221BlameSupplier _,
    "q222_image_decode"   -> MultimodalOps.q222ImageDecode _,
    "q223_neardup_leakage" -> DedupOps.q223NeardupLeakage _,
    "q224_repeated_spans" -> DedupOps.q224RepeatedSpans _,
    "q225_importance_weights" -> PipelineOps.q225ImportanceWeights _,
    "q226_bpe_merges"     -> ((s, dir) => CorpusOps.q226BpeMerges(s, dir)),
    "q227_bpe_fertility"  -> CorpusOps.q227BpeFertility _,
    "q228_audio_decode"   -> MultimodalOps.q228AudioDecode _,
    "q229_semantic_dedup" -> DedupOps.q229SemDedup _,
    "q230_jpeg_gif_decode" -> MultimodalOps.q230JpegGifDecode _,
    "q231_packing_efficiency" -> PipelineOps.q231PackingEfficiency _,
    "q232_winnowing"      -> DedupOps.q232Winnowing _,
    "q233_threshold_sensitivity" -> DedupOps.q233ThresholdSensitivity _,
    "q234_perplexity_buckets" -> CorpusOps.q234PerplexityBuckets _,
    "q235_cdc_chunking"   -> DedupOps.q235CdcChunking _,
    "q236_winnow_recall"  -> DedupOps.q236WinnowRecall _,
    "q237_label_noise"    -> SimilarityOps.q237LabelNoise _,
    "q238_dedup_weights"  -> DedupOps.q238DedupWeights _,
    "q239_format_roundtrip" -> TransferOps.q239FormatRoundtrip _,
    "q240_min_cost_supplier" -> Relational.q240MinCostSupplier _,
    "q243_novelty_curve"  -> CorpusOps.q243NoveltyCurve _,
    "q244_coreset_sample" -> SimilarityOps.q244CoresetSample _,
    "q245_decontam_apply" -> CorpusOps.q245DecontamApply _,
    "q246_secret_scan"    -> PipelineOps.q246SecretScan _,
    "q247_nfd_packing"    -> CorpusOps.q247NfdPacking _,
    "q248_source_divergence" -> AffinityOps.q248SourceDivergence _,
    "q249_watermark_lateness" -> EventOps.q249WatermarkLateness _,
    "q250_epoch_plan"     -> PipelineOps.q250EpochPlan _,
    "q251_image_phash"    -> MultimodalOps.q251ImagePhash _,
    "q252_utf8_fingerprint" -> TextOps.q252Utf8Fingerprint _,
    "q253_suffix_repeats" -> DedupOps.q253SuffixRepeats _,
    "q254_scene_cuts"     -> MultimodalOps.q254SceneCuts _,
    "q255_viterbi_audit"  -> CorpusOps.q255ViterbiAudit _,
    "q256_nfc_dedup"      -> DedupOps.q256NfcDedup _,
    "q257_sdc_release"    -> PipelineOps.q257SdcRelease _,
    "q258_ewma_backtest"  -> EventOps.q258EwmaBacktest _,
    "q259_special_tokens" -> PipelineOps.q259SpecialTokens _,
    "q260_boilerplate_strip" -> DedupOps.q260BoilerplateStrip _,
    "q261_audio_segments" -> MultimodalOps.q261AudioSegments _,
    "q262_fk_discovery"   -> SchemaOps.q262FkDiscovery _,
    "q263_key_candidates" -> SchemaOps.q263KeyCandidates _,
    "q264_script_mix"     -> TextOps.q264ScriptMix _,
    "q265_skeleton_dedup" -> TextOps.q265SkeletonDedup _,
    "q266_markup_strip"   -> TextOps.q266MarkupStrip _,
    "q267_line_boilerplate" -> DedupOps.q267LineBoilerplate _,
    "q268_perm_dedup"     -> DedupOps.q268PermutationDedup _,
    "q269_url_canonical"  -> TextOps.q269UrlCanonical _,
    "q270_containment"    -> DedupOps.q270ContainmentDedup _,
    "q271_linear_attrib"  -> EventOps.q271LinearAttribution _,
    "q272_fd_discovery"   -> graft.operators.SchemaOps.q272FdDiscovery _,
    "q273_tcloseness"     -> PipelineOps.q273TCloseness _,
    "q274_png_probe"      -> MultimodalOps.q274PngProbe _,
    "q275_vopt_histogram" -> graft.operators.SchemaOps.q275VOptHistogram _,
    "q276_selectivity"    -> graft.operators.SchemaOps.q276SelectivityAudit _,
    "q277_constraint_verify" -> graft.operators.SchemaOps.q277ConstraintVerify _,
    "q278_csv_sniff"      -> graft.operators.TransferOps.q278CsvSniff _,
    "q279_bloom_calibration" -> PipelineOps.q279BloomCalibration _,
    "q280_skyline"        -> Relational.q280Skyline _,
    "q281_dataset_dedup"  -> graft.operators.TransferOps.q281DatasetDedup _,
    "q282_hll_audit"      -> PipelineOps.q282HllAudit _,
    "q283_cms_audit"      -> CorpusOps.q283CmsAudit _,
    "q284_merkle_diff"    -> graft.operators.TransferOps.q284MerkleDiff _,
    "q285_cusum_drift"    -> EventOps.q285CusumDrift _,
    "q286_pseudonymize"   -> PipelineOps.q286Pseudonymize _,
    "q287_incr_join"      -> graft.operators.TransferOps.q287IncrJoin _,
    "q288_bitmap_index"   -> Relational.q288BitmapIndex _,
    "q289_kcenter"        -> SimilarityOps.q289KCenter _,
    "q290_why_provenance" -> graft.operators.SchemaOps.q290WhyProvenance _,
    "q291_ab_experiment"  -> PipelineOps.q291AbExperiment _,
    "q292_record_linkage" -> DedupOps.q292RecordLinkage _,
    "q293_minhash_union"  -> AffinityOps.q293MinhashUnion _,
    "q294_layout_sweep"   -> PipelineOps.q294LayoutSweep _,
    "q295_sample_quantiles" -> PipelineOps.q295SampleQuantiles _,
    "q296_encoding_advisor" -> graft.operators.SchemaOps.q296EncodingAdvisor _,
    "q297_threshold_topk" -> Relational.q297ThresholdTopk _,
    "q298_phrase_search"  -> CorpusOps.q298PhraseSearch _,
    "q299_time_in_state"  -> graft.operators.TransferOps.q299TimeInState _,
    "q300_autocorrelation" -> EventOps.q300Autocorrelation _,
    "q301_benford_audit"  -> PipelineOps.q301BenfordAudit _,
    "q302_theil_sen"      -> EventOps.q302TheilSen _,
    "q303_patch_audit"    -> ((s: SparkSession, d: String) =>
      MultimodalOps.q303PatchAudit(s, d).toDF),
    "q304_filtered_ann"   -> SimilarityOps.q304FilteredAnn _,
    "q305_hybrid_rrf"     -> SimilarityOps.q305HybridRrf _,
    "q306_mmr_rerank"     -> SimilarityOps.q306MmrRerank _,
    "q307_survivorship"   -> DedupOps.q307Survivorship _,
    "q308_join_order"     -> graft.operators.SchemaOps.q308JoinOrderAudit _,
    "q309_bitemporal"     -> graft.operators.TransferOps.q309Bitemporal _,
    "q310_quarantine"     -> graft.operators.SchemaOps.q310QuarantineRoute _,
    "q311_chat_contracts" -> EventOps.q311ChatContracts _,
    "q312_kll_quantiles"  -> PipelineOps.q312KllQuantiles _,
    "q313_loss_masks"     -> PipelineOps.q313LossMasks _,
    "q314_lsh_plan"       -> DedupOps.q314LshPlan _,
    "q315_composition_raking" -> PipelineOps.q315CompositionRaking _,
    "q316_bloom_skipping" -> PipelineOps.q316BloomSkipping _,
    "q317_lsh_plan_exec"  -> DedupOps.q317LshPlanExec _,
    "q318_dp_mechanism"   -> PipelineOps.q318DpMechanism _,
    "q319_survival_km"    -> EventOps.q319SurvivalKm _,
    "q320_bpe_train"      -> TextOps.q320BpeTrain _,
    "q321_dsir_resample"  -> PipelineOps.q321DsirResample _,
    "q322_semantic_prune" -> DedupOps.q322SemanticPrune _,
    "q323_ndcg_grade"     -> SimilarityOps.q323NdcgGrade _,
    "q324_unimax_budget"  -> PipelineOps.q324UnimaxBudget _,
    "q325_bpe_apply"      -> TextOps.q325BpeApply _,
    "q326_merkle_diff"    -> graft.operators.TransferOps.q326MerkleDiff _,
    "q327_preference_pairs" -> EventOps.q327PreferencePairs _,
    "q328_bitext_mine"    -> SimilarityOps.q328BitextMine _,
    "q329_target_encoding" -> PipelineOps.q329TargetEncoding _,
    "q330_span_corruption" -> PipelineOps.q330SpanCorruption _,
    "q331_needle_plan"    -> CorpusOps.q331NeedlePlan _,
    "q332_runs_test"      -> PipelineOps.q332RunsTest _,
    "q333_group_folds"    -> DedupOps.q333GroupFolds _,
    "q334_quality_classifier" -> PipelineOps.q334QualityClassifier _,
    "q335_bpe_encode_holdout" -> TextOps.q335BpeEncodeHoldout _,
    "q336_pq_recall"      -> SimilarityOps.q336PqRecall _,
    "q337_doremi_reweight" -> PipelineOps.q337DoremiReweight _,
    "q338_isotonic_calibration" -> PipelineOps.q338IsotonicCalibration _,
    "q339_curriculum_schedule" -> CorpusOps.q339CurriculumSchedule _,
    "q340_triplet_mining" -> SimilarityOps.q340TripletMining _,
    "q341_nndescent_graph" -> SimilarityOps.q341NnDescent _,
    "q342_jl_projection"  -> SimilarityOps.q342JlProjection _,
    "q343_batch_padding"  -> CorpusOps.q343BatchPadding _,
    "q344_bootstrap_ci"   -> PipelineOps.q344BootstrapCi _,
    "q345_iclm_ordering"  -> SimilarityOps.q345IclmOrdering _,
    "q346_cuped_variance" -> PipelineOps.q346CupedVariance _,
    "q347_graph_search"   -> SimilarityOps.q347GraphSearch _,
    "q348_abtt_direction" -> SimilarityOps.q348AbttDirection _,
    "q349_suffix_strip"   -> DedupOps.q349SuffixStrip _,
    "q350_hill_tail"      -> CorpusOps.q350HillTail _,
    "q351_good_turing"    -> CorpusOps.q351GoodTuring _,
    "q352_mann_kendall"   -> EventOps.q352MannKendall _,
    "q353_filter_apply"   -> PipelineOps.q353FilterApply _,
    "q354_label_prop"     -> PipelineOps.q354LabelPropagation _,
    "q355_rel_quantiles"  -> PipelineOps.q355RelQuantiles _,
    "q356_epoch_value"    -> PipelineOps.q356EpochValue _,
    "q357_priority_sample" -> PipelineOps.q357PrioritySample _,
    "q358_exact_auc"      -> PipelineOps.q358ExactAuc _,
    "q359_rendezvous"     -> PipelineOps.q359RendezvousShards _,
    "q360_chao_richness"  -> CorpusOps.q360ChaoRichness _,
    "q361_chi_features"   -> PipelineOps.q361ChiFeatures _,
    "q362_psi_drift"      -> PipelineOps.q362PsiDrift _,
    "q363_sprt_gate"      -> PipelineOps.q363SprtGate _,
    "q364_suffix_array"   -> graft.ops.SuffixArrayOps.q364SuffixArray _,
    "q365_ivf_adc"        -> SimilarityOps.q365IvfAdc _,
    "q366_byte_bpe"       -> TextOps.q366ByteBpe _,
    "q367_ensemble_filter" -> PipelineOps.q367EnsembleFilter _,
    "q368_incremental_nnd" -> SimilarityOps.q368IncrementalNnd _,
    "q369_ams_f2"         -> PipelineOps.q369AmsF2 _,
    "q370_sa_strip"       -> graft.ops.SuffixArrayOps.q370SaStrip _,
    "q371_ivf_trained"    -> SimilarityOps.q371IvfTrained _,
    "q372_byte_fallback"  -> TextOps.q372ByteFallback _,
    "q373_indomain_cut"   -> PipelineOps.q373IndomainCut _,
    "q374_ams_join_est"   -> SchemaOps.q374AmsJoinEstimate _,
    "q375_strip_residual" -> graft.ops.SuffixArrayOps.q375StripResidual _,
    "q376_merge_budget"   -> TextOps.q376MergeBudget _,
    "q377_ivf_nprobe"     -> SimilarityOps.q377IvfNprobe _,
    "q378_kcore"          -> graft.ops.AffinityOps.q378KCore _,
    "q379_label_shift"    -> PipelineOps.q379LabelShift _,
    "q380_retract_ivm"    -> TransferOps.q380RetractIvm _,
    "q381_neyman_alloc"   -> PipelineOps.q381NeymanAlloc _,
    "q382_patch_watermark" -> MultimodalOps.q382PatchWatermark _,
    "q383_hamming_ann"    -> SimilarityOps.q383HammingAnn _,
    "q384_bfs_distance"   -> graft.ops.AffinityOps.q384BfsDistance _,
    "q385_oph_dedup"      -> DedupOps.q385OphDedup _,
    "q386_randomized_response" -> PipelineOps.q386RandomizedResponse _,
    "q387_ts_compression" -> EventOps.q387TsCompression _,
    "q388_signflip_test"  -> PipelineOps.q388SignFlipTest _,
    "q389_median_cut"     -> MultimodalOps.q389MedianCut _,
    "q390_dimsum_cosine"  -> DedupOps.q390DimsumCosine _,
    "q391_coverage_select" -> CorpusOps.q391CoverageSelect _,
    "q392_conformal"      -> PipelineOps.q392ConformalIntervals _,
    "q393_counting_bloom" -> PipelineOps.q393CountingBloom _,
    "q394_srm_check"      -> PipelineOps.q394SrmCheck _,
    "q395_incr_rank"      -> graft.ops.AffinityOps.q395IncrRank _,
    "q396_seed_vocab"     -> CorpusOps.q396SeedVocabFrontier _,
    "q397_replay_eval"    -> PipelineOps.q397ReplayEval _,
    "q398_ips_eval"       -> PipelineOps.q398IpsEval _,
    "q399_bh_fdr"         -> PipelineOps.q399BhFdr _,
    "q400_mondrian"       -> PipelineOps.q400Mondrian _,
    "q241_important_stock" -> Relational.q241ImportantStock _,
    "q242_parts_supplier" -> Relational.q242PartsSupplierRel _,
  )

  /** DuckDB-dialect oracle per query key (same parquet tables, same column
    * names, same deterministic row order). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) AS qty,
        |  CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT) AS net_cents
        |FROM lineitem
        |WHERE l_quantity >= 49 AND l_discount >= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_join_agg" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q04_left_join" ->
      """SELECT c_custkey, c_mktsegment,
        |  count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS BIGINT) AS spend_cents
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin,

    "q05_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q06_window_topk" ->
      """SELECT o_custkey, rn, o_orderkey, price_cents, run_cents FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
        |    row_number() OVER w AS rn,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |      OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin,

    "q07_group_concat" ->
      """SELECT n_name,
        |  string_agg(c_name, ',' ORDER BY c_name) AS members,
        |  count(*) AS n_members
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9000
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q08_limit_offset" ->
      """SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
        |FROM orders
        |ORDER BY price_cents DESC, o_orderkey
        |LIMIT 20 OFFSET 10""".stripMargin,

    "q09_setops" ->
      """SELECT 'both' AS tag, nkey FROM (
        |  SELECT DISTINCT c_nationkey AS nkey FROM customer
        |  INTERSECT
        |  SELECT DISTINCT s_nationkey AS nkey FROM supplier)
        |UNION ALL
        |SELECT 'cust_only' AS tag, nkey FROM (
        |  SELECT DISTINCT c_nationkey AS nkey FROM customer
        |  EXCEPT
        |  SELECT DISTINCT s_nationkey AS nkey FROM supplier)
        |ORDER BY tag, nkey""".stripMargin,

    "q10_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q11_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_tag,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status2,
        |  CASE WHEN o_orderstatus = 'F' THEN 0
        |       WHEN o_orderstatus < 'F' THEN -1 ELSE 1 END AS strcmp_f
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q12_strings" ->
      """SELECT p_partkey,
        |  p_brand || '/' || p_type AS brand_type,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  CAST(strpos(p_name, 'widget') AS BIGINT) AS widget_pos,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  reverse(p_brand) AS brand_rev,
        |  substring(p_name, 1, 3) AS left3,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
        |  upper(p_type) AS type_upper,
        |  CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q13_dates" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS d,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to_98,
        |  CAST(o_orderdate AS DATE) + 90 AS plus90,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  epoch_us(o_orderdate) AS epoch_us
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q14_json" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q15_event_lag" ->
      """SELECT user_id, event_id,
        |  epoch_us(ts) - epoch_us(prev_ts) AS gap_us
        |FROM (SELECT user_id, event_id, ts,
        |        lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)
        |WHERE prev_ts IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,

    "q16_event_windows" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,

    "q17_multi_join" ->
      """SELECT r_name,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  count(DISTINCT c_custkey) AS n_customers
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY revenue_cents DESC, r_name""".stripMargin,

    "q18_count_validation" ->
      """SELECT * FROM (
        |  SELECT 'region' AS table_name, count(*) AS n_rows FROM region
        |  UNION ALL SELECT 'nation', count(*) FROM nation
        |  UNION ALL SELECT 'customer', count(*) FROM customer
        |  UNION ALL SELECT 'supplier', count(*) FROM supplier
        |  UNION ALL SELECT 'part', count(*) FROM part
        |  UNION ALL SELECT 'orders', count(*) FROM orders
        |  UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |  UNION ALL SELECT 'events', count(*) FROM events
        |  UNION ALL SELECT 'documents', count(*) FROM documents
        |  UNION ALL SELECT 'embeddings', count(*) FROM embeddings)
        |ORDER BY table_name""".stripMargin,

    "q19_math_casts" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey % 7 AS mod7,
        |  CAST(l_quantity AS BIGINT) AS qty_signed,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_discount*100) AS BIGINT) AS disc_pct_ceil,
        |  CAST(abs(l_quantity - 25) AS BIGINT) AS abs_from_25,
        |  CAST(l_quantity * l_quantity AS BIGINT) AS qty_sq
        |FROM lineitem
        |WHERE l_orderkey % 997 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q20_above_avg" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS price_cents FROM orders),
        |ag AS (SELECT o_custkey AS k,
        |    CAST(sum(price_cents) AS BIGINT) AS sum_cents, count(*) AS n
        |  FROM o GROUP BY 1)
        |SELECT o_orderkey, o_custkey, price_cents
        |FROM o JOIN ag ON o_custkey = k
        |WHERE price_cents * n * 2 > sum_cents * 3
        |ORDER BY o_orderkey""".stripMargin,

    "q21_view_dates" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  strftime(o_orderdate, '%d/%m/%y %H:%M:%S') AS euro_ts,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528 AS BIGINT) AS days_since_y0
        |FROM orders
        |ORDER BY o_orderkey
        |LIMIT 100 OFFSET 5""".stripMargin,

    "q22_view_group_concat" ->
      """SELECT n_name,
        |  string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS segs,
        |  count(*) AS n_members
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q23_view_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_tag,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status2,
        |  CASE WHEN o_orderstatus = 'F' THEN 0
        |       WHEN o_orderstatus < 'F' THEN -1 ELSE 1 END AS strcmp_f,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q24_view_json" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q25_view_strings" ->
      """SELECT p_partkey,
        |  p_brand || '/' || p_type AS brand_type,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  CAST(strpos(p_name, 'widget') AS BIGINT) AS widget_pos,
        |  CAST(p_size AS VARCHAR) AS size_str,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  lower(p_type) AS type_lower
        |FROM part
        |ORDER BY p_partkey
        |LIMIT 50 OFFSET 10""".stripMargin,

    "q26_type_mapping" ->
      """SELECT * FROM (VALUES
        |  ('bigint', 'bigint', 'BIGINT'),
        |  ('bigint unsigned', 'decimal(20,0)', 'NUMERIC(20,0)'),
        |  ('blob', 'binary', 'BYTEA'),
        |  ('char(10)', 'string', 'CHAR(10)'),
        |  ('date', 'date', 'DATE'),
        |  ('datetime', 'timestamp', 'TIMESTAMP'),
        |  ('decimal(10,2)', 'decimal(10,2)', 'DECIMAL(10,2)'),
        |  ('double', 'double', 'DOUBLE PRECISION'),
        |  ('enum(''a'',''b'')', 'string', 'VARCHAR(255)'),
        |  ('float', 'float', 'REAL'),
        |  ('geometry', 'binary', 'BYTEA'),
        |  ('int', 'int', 'INTEGER'),
        |  ('int unsigned', 'bigint', 'BIGINT'),
        |  ('int(11)', 'int', 'INTEGER'),
        |  ('json', 'string', 'JSON'),
        |  ('json(1024)', 'string', 'JSON'),
        |  ('longtext', 'string', 'TEXT'),
        |  ('mediumint', 'int', 'INTEGER'),
        |  ('numeric(20,4)', 'decimal(20,4)', 'NUMERIC(20,4)'),
        |  ('point', 'binary', 'POINT'),
        |  ('real', 'double', 'DOUBLE PRECISION'),
        |  ('set(''x'',''y'')', 'string', 'VARCHAR(255)'),
        |  ('smallint', 'smallint', 'SMALLINT'),
        |  ('text', 'string', 'TEXT'),
        |  ('time', 'bigint', 'TIME'),
        |  ('time(6)', 'bigint', 'TIME(6)'),
        |  ('timestamp(6)', 'timestamp', 'TIMESTAMP(6)'),
        |  ('tinyint', 'smallint', 'SMALLINT'),
        |  ('tinyint(1)', 'boolean', 'BOOLEAN'),
        |  ('varbinary', 'binary', 'BYTEA'),
        |  ('varchar(0)', 'string', 'VARCHAR(1)'),
        |  ('varchar(255)', 'string', 'VARCHAR(255)'),
        |  ('year', 'int', 'INTEGER')
        |) AS t(mysql_type, spark_type, pg_type)
        |ORDER BY mysql_type""".stripMargin,

    "q27_ddl_convert" ->
      """SELECT * FROM (VALUES
        |  ('case_11_autoincrement', 'CREATE TABLE "case_11_autoincrement" (   "id" SERIAL,   "name" VARCHAR(50) NOT NULL,   PRIMARY KEY ("id") )'),
        |  ('case_19_comments', 'CREATE TABLE "case_19_comments" (   "c1" INTEGER ); COMMENT ON TABLE "case_19_comments" IS ''Table comment''; COMMENT ON COLUMN "case_19_comments"."c1" IS ''Simple comment'''),
        |  ('case_21_generated', 'CREATE TABLE "case_21_generated" (   "c1" INTEGER,   "c2" INTEGER GENERATED ALWAYS AS (c1 * 2) STORED )'),
        |  ('case_27_check', 'CREATE TABLE "case_27_check" (   "age" INTEGER,   CHECK (age > 18) )')
        |) AS t(case_name, pg_ddl)
        |ORDER BY case_name""".stripMargin,

    "q28_view_datetime" ->
      """SELECT o_orderkey,
        |  date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS days_to98,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  CAST(o_orderdate AS DATE) - 15 AS minus15,
        |  dayname(o_orderdate) AS dname,
        |  monthname(o_orderdate) AS mname
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q29_view_inet" ->
      """SELECT n_nationkey,
        |  CAST(167772160 + CAST(n_nationkey AS BIGINT) * 65536 + n_regionkey AS BIGINT) AS ip_num,
        |  '10.0.0.' || CAST(1 + n_nationkey AS VARCHAR) AS ip_str
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    "q42_stored_functions" ->
      """WITH os AS (
        |  SELECT o_orderkey, 'Order: ' || o_orderkey || ', Cust: ' || c_name
        |    || ', Nation: ' || n_name || ', Region: ' || r_name
        |    || ', Items: ' || cnt || ', Qty: ' || qty AS result
        |  FROM (SELECT o_orderkey, c_name, n_name, r_name, count(*) AS cnt,
        |          CAST(sum(l_quantity) AS BIGINT) AS qty
        |        FROM lineitem
        |        JOIN orders ON l_orderkey = o_orderkey
        |        JOIN customer ON o_custkey = c_custkey
        |        JOIN nation ON c_nationkey = n_nationkey
        |        JOIN region ON n_regionkey = r_regionkey
        |        GROUP BY 1, 2, 3, 4)
        |  WHERE o_orderkey IN (1, 7, 997)),
        |ss AS (
        |  SELECT status, 'Status: ' || status || ', Top Cust: ' || cust
        |    || ', Cents: ' || cents AS result
        |  FROM (SELECT o_orderstatus AS status, coalesce(c_name, 'N/A') AS cust,
        |          CAST(round(o_totalprice*100) AS BIGINT) AS cents,
        |          row_number() OVER (PARTITION BY o_orderstatus
        |            ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rk
        |        FROM orders LEFT JOIN customer ON o_custkey = c_custkey)
        |  WHERE rk = 1),
        |sd AS (
        |  SELECT s_suppkey, 'Supp: ' || s_name || ', Order: ' || l_orderkey
        |    || ', Line: ' || l_linenumber || ', Qty: ' || CAST(l_quantity AS BIGINT) AS result
        |  FROM (SELECT s_suppkey, s_name, l_orderkey, l_linenumber, l_quantity,
        |          row_number() OVER (PARTITION BY s_suppkey
        |            ORDER BY l_orderkey, l_linenumber) AS rk
        |        FROM lineitem JOIN supplier
        |          ON l_suppkey = s_suppkey AND l_quantity > 40 AND l_discount >= 0.05)
        |  WHERE rk = 1 AND s_suppkey IN (1, 2, 3))
        |SELECT 'order_summary' AS fn_name, CAST(o_orderkey AS VARCHAR) AS param, result FROM os
        |UNION ALL SELECT 'status_summary', status, result FROM ss
        |UNION ALL SELECT 'supplier_detail', CAST(s_suppkey AS VARCHAR), result FROM sd
        |ORDER BY fn_name, param""".stripMargin,

    "q43_percentiles" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  quantile_cont(c, 0.5) AS p50,
        |  quantile_cont(c, 0.9) AS p90,
        |  CAST(min(c) AS BIGINT) AS min_cents,
        |  CAST(max(c) AS BIGINT) AS max_cents
        |FROM (SELECT o_orderstatus, CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q44_view_math" ->
      """SELECT p_partkey,
        |  round(p_retailprice) AS price_round,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |  abs(p_size - 25) AS size_abs,
        |  p_partkey % 7 AS key_mod7,
        |  CAST(pow(p_size, 2) AS BIGINT) AS size_sq,
        |  sqrt(p_size) AS size_sqrt,
        |  CAST(greatest(p_size, 10) AS BIGINT) AS size_hi,
        |  CAST(least(p_size, 10) AS BIGINT) AS size_lo,
        |  hex(p_size) AS size_hex,
        |  bin(p_size) AS size_bin,
        |  '[' || repeat(' ', 2) || ']' AS spaced,
        |  substring(p_name, 2, 4) AS name_mid,
        |  repeat(p_brand, 2) AS brand_x2
        |FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q45_generator" ->
      """SELECT o_orderkey,
        |  CAST(unnest(generate_series(CAST(o_orderdate AS DATE),
        |    CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, INTERVAL 1 MONTH)) AS DATE) AS month_date
        |FROM orders
        |WHERE o_orderkey % 500 = 0
        |ORDER BY o_orderkey, month_date""".stripMargin,

    "q46_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q47_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q48_window_ranks" ->
      """SELECT c_custkey, c_mktsegment, spend_cents,
        |  CAST(rank() OVER w AS BIGINT) AS rk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  lead(spend_cents, 1) OVER w AS next_cents
        |FROM (SELECT c_custkey, c_mktsegment,
        |        CAST(round(c_acctbal*100) AS BIGINT) AS spend_cents FROM customer)
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend_cents DESC, c_custkey)
        |ORDER BY c_mktsegment, rk, c_custkey""".stripMargin,

    "q49_tfidf" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
        |dfreq AS (SELECT word, count(*) AS df
        |          FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY word),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT doc_id, word, tf, df,
        |    CAST(tf AS BIGINT) * ((CAST(n.n AS BIGINT) * 1000) // CAST(df AS BIGINT)) AS score
        |  FROM tf JOIN dfreq USING (word) CROSS JOIN n)
        |SELECT doc_id, rk, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |       CAST(score AS BIGINT) AS score
        |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, word) AS BIGINT) AS rk FROM scored)
        |WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "q38_ann_lsh" ->
      raw"""WITH ij AS (SELECT i.i, j.j
        |  FROM (SELECT unnest(generate_series(0, 11)) AS i) i
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j),
        |wts AS (SELECT i, j,
        |    (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)
        |      % 2001 AS DOUBLE) - 1000.0) / 1000.0 AS w
        |  FROM ij),
        |plane AS (SELECT i, list(w ORDER BY j) AS wl FROM wts GROUP BY i),
        |e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm2
        |      FROM e WHERE list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) > 0),
        |dots AS (SELECT n.vec_id, plane.i,
        |    list_reduce(list_transform(generate_series(1, 64), j -> n.v[j] * plane.wl[j]),
        |                (a, b) -> a + b) AS dot
        |  FROM n CROSS JOIN plane),
        |buckets AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |nb AS (SELECT n.vec_id, n.v, n.nrm2, buckets.bucket
        |       FROM n JOIN buckets ON n.vec_id = buckets.vec_id),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm2 AS qn, bucket FROM nb WHERE vec_id < 10),
        |cand AS (SELECT q.q_id, nb.vec_id, nb.bucket,
        |    list_reduce(list_transform(generate_series(1, 64), j -> q.qv[j] * nb.v[j]),
        |                (a, b) -> a + b) / (sqrt(q.qn) * sqrt(nb.nrm2)) AS cos
        |  FROM nb JOIN q ON nb.bucket = q.bucket AND nb.vec_id >= 10)
        |SELECT q_id, rk, neighbor_id, cos, bucket FROM (
        |  SELECT q_id, vec_id AS neighbor_id, cos, bucket,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk
        |  FROM cand)
        |WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin,

    "q30_text_stats" ->
      raw"""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |              $FpByteFold) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q31_lang_quality" ->
      """WITH d AS (SELECT doc_id, source, lang, text, string_split(text, ' ') ws FROM documents),
        |e AS (SELECT doc_id, source, lang,
        |        len(ws) AS n_words,
        |        len(list_filter(ws, w -> w = 'the' OR w = 'a' OR w = 'of')) AS stop_hits,
        |        len(list_distinct(ws)) AS n_distinct,
        |        length(text) AS n_chars
        |      FROM d)
        |SELECT doc_id, source, lang,
        |  CASE WHEN stop_hits * 20 >= n_words THEN 'en' ELSE 'unknown' END AS pred_lang,
        |  CAST(stop_hits AS BIGINT) AS stop_hits,
        |  (CAST(n_distinct AS BIGINT) * 1000) // CAST(n_words AS BIGINT) AS quality_millis,
        |  CAST(n_words AS BIGINT) AS ws_tokens,
        |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe_tokens_est
        |FROM e ORDER BY doc_id""".stripMargin,

    "q32_dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  count(*) - count(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q33_dedup_jaccard" ->
      """WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) ws FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter_n,
        |  CAST(len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)) AS BIGINT) AS union_n
        |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws)) * 10 >=
        |      (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) * 8
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q34_dedup_minhash" ->
      raw"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
        |hs AS (SELECT doc_id, list_transform(shingles,
        |         s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                          $FpByteFold)) AS h FROM sh),
        |sig AS (SELECT doc_id, [
        |  list_min(list_transform(h, x -> (3 * x + 1) % 1000000007)),
        |  list_min(list_transform(h, x -> (7 * x + 5) % 1000000007)),
        |  list_min(list_transform(h, x -> (11 * x + 13) % 1000000007)),
        |  list_min(list_transform(h, x -> (17 * x + 29) % 1000000007)),
        |  list_min(list_transform(h, x -> (23 * x + 37) % 1000000007)),
        |  list_min(list_transform(h, x -> (31 * x + 43) % 1000000007)),
        |  list_min(list_transform(h, x -> (41 * x + 53) % 1000000007)),
        |  list_min(list_transform(h, x -> (47 * x + 61) % 1000000007)),
        |  list_min(list_transform(h, x -> (59 * x + 71) % 1000000007)),
        |  list_min(list_transform(h, x -> (67 * x + 79) % 1000000007)),
        |  list_min(list_transform(h, x -> (73 * x + 89) % 1000000007)),
        |  list_min(list_transform(h, x -> (83 * x + 101) % 1000000007))] AS sig FROM hs),
        |bands AS (SELECT doc_id, i AS band_idx,
        |    CAST(sig[3*i + 1] AS VARCHAR) || ':' || CAST(sig[3*i + 2] AS VARCHAR)
        |      || ':' || CAST(sig[3*i + 3] AS VARCHAR) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
        |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_match
        |FROM cands JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |WHERE len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) >= 6
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q35_simhash" ->
      raw"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |h AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(word, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                    $FpByteFold) AS hw FROM w),
        |v AS (SELECT doc_id, b.b,
        |        CASE WHEN sum(CASE WHEN ((hw >> b.b) & 1) = 1 THEN 1 ELSE -1 END) > 0
        |             THEN (CAST(1 AS BIGINT) << b.b) ELSE 0 END AS val
        |      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) b
        |      GROUP BY doc_id, b.b)
        |SELECT doc_id, CAST(sum(val) AS BIGINT) AS simhash
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q36_embed_dedup" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |        list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm2
        |      FROM e WHERE list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) > 0)
        |SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]),
        |              (x, y) -> x + y) / (sqrt(a.nrm2) * sqrt(b.nrm2)) AS cos
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]),
        |              (x, y) -> x + y) / (sqrt(a.nrm2) * sqrt(b.nrm2)) >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin,

    "q37_cosine_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm2
        |      FROM e WHERE list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) > 0),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm2 AS qn FROM n WHERE vec_id < 10),
        |s AS (SELECT q.q_id, n.vec_id,
        |        list_reduce(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * n.v[i]),
        |                    (x, y) -> x + y) / (sqrt(q.qn) * sqrt(n.nrm2)) AS cos
        |      FROM n CROSS JOIN q WHERE n.vec_id >= 10)
        |SELECT q_id, rk, neighbor_id, cos FROM (
        |  SELECT q_id, vec_id AS neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk
        |  FROM s)
        |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "q39_embed_stats" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, label,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS norm
        |      FROM e WHERE list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) > 0)
        |SELECT label, count(*) AS n_vecs, min(norm) AS min_norm, max(norm) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    "q40_multimodal" ->
      """SELECT doc_id,
        |  ['image', 'audio', 'video'][CAST(((doc_id % 3) + 3) % 3 AS INT) + 1] AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  (doc_id * 37) % 640 + 16 AS width,
        |  (doc_id * 23) % 480 + 16 AS height,
        |  CAST(octet_length(encode(text)) // 64 + 1 AS BIGINT) AS n_frames,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
        |  CASE WHEN greatest((doc_id * 37) % 640 + 16, (doc_id * 23) % 480 + 16) <= 224
        |       THEN (doc_id * 37) % 640 + 16
        |       ELSE ((doc_id * 37) % 640 + 16) * 224
        |            // greatest((doc_id * 37) % 640 + 16, (doc_id * 23) % 480 + 16)
        |  END AS out_width,
        |  CASE WHEN greatest((doc_id * 37) % 640 + 16, (doc_id * 23) % 480 + 16) <= 224
        |       THEN (doc_id * 23) % 480 + 16
        |       ELSE ((doc_id * 23) % 480 + 16) * 224
        |            // greatest((doc_id * 37) % 640 + 16, (doc_id * 23) % 480 + 16)
        |  END AS out_height,
        |  CASE WHEN doc_id % 3 = 2
        |       THEN CAST((octet_length(encode(text)) // 64 + 1 + 9) // 10 AS BIGINT)
        |       ELSE 1 END AS n_sampled_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q41_transfer_validate" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS table_name, count(*) AS src_rows,
        |         count(*) AS dst_rows, true AS checksum_match FROM customer
        |  UNION ALL SELECT 'lineitem', count(*), count(*), true FROM lineitem
        |  UNION ALL SELECT 'orders', count(*), count(*), true FROM orders)
        |ORDER BY table_name""".stripMargin,

    "q50_dedup_clusters" -> q50OracleSql,

    "q51_asof_join" ->
      """WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |errors AS (SELECT user_id, ts, max(event_id) AS event_id FROM events
        |           WHERE event_type = 'error' GROUP BY user_id, ts)
        |SELECT c.user_id, c.event_id AS click_id, e.event_id AS err_id,
        |  epoch_us(c.ts) - epoch_us(e.ts) AS gap_us
        |FROM clicks c ASOF LEFT JOIN errors e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        |ORDER BY c.user_id, click_id""".stripMargin,

    "q52_range_join" ->
      """WITH bands AS (SELECT 'band_' || CAST(i AS VARCHAR) AS band,
        |    CAST(i * 10000000 AS BIGINT) AS lo_cents,
        |    CAST((i + 1) * 10000000 AS BIGINT) AS hi_cents
        |  FROM generate_series(0, 5) t(i))
        |SELECT band, lo_cents, count(*) AS n_orders,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
        |FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders) o
        |JOIN bands ON price_cents >= lo_cents AND price_cents < hi_cents
        |GROUP BY band, lo_cents
        |ORDER BY lo_cents""".stripMargin,

    "q53_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(generate_series(1, length(text) - 2),
        |      i -> substring(text, i, 3))) AS gs
        |  FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS inter_n,
        |  CAST(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) AS BIGINT) AS union_n
        |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.gs, b.gs)) * 5 >=
        |      (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) * 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q54_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |        THEN 1 ELSE 0 END AS new_sess FROM l),
        |g AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f)
        |SELECT user_id, sess_idx, count(*) AS n_events,
        |  CAST(min(us) AS BIGINT) AS start_us,
        |  CAST(max(us) - min(us) AS BIGINT) AS duration_us,
        |  CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM g GROUP BY user_id, sess_idx
        |ORDER BY user_id, sess_idx""".stripMargin,

    "q55_stratified_sample" ->
      raw"""SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN fp % 10 < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(sum(CASE WHEN fp % 10 < 2 THEN doc_id END) AS BIGINT) AS sampled_id_sum
        |FROM (SELECT lang, doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                $FpByteFold) AS fp
        |  FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q56_ivf_ann" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm2
        |      FROM e WHERE list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) > 0),
        |c AS (SELECT vec_id AS c_id, v AS cv, nrm2 AS cn FROM n WHERE vec_id < 8),
        |ac AS (SELECT n.vec_id, c.c_id, n.v, n.nrm2,
        |        list_reduce(list_transform(generate_series(1, len(n.v)), i -> n.v[i] * c.cv[i]),
        |                    (x, y) -> x + y) / (sqrt(n.nrm2) * sqrt(c.cn)) AS c_cos
        |      FROM n CROSS JOIN c),
        |asg AS (SELECT vec_id, c_id AS cluster, v, nrm2 FROM (
        |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS ark
        |        FROM ac) WHERE ark = 1),
        |corpus AS (SELECT * FROM asg WHERE vec_id >= 18),
        |queries AS (SELECT vec_id AS q_id, cluster, v AS qv, nrm2 AS qn
        |            FROM asg WHERE vec_id >= 8 AND vec_id < 18),
        |s AS (SELECT q.q_id, co.vec_id, q.cluster,
        |        list_reduce(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * co.v[i]),
        |                    (x, y) -> x + y) / (sqrt(q.qn) * sqrt(co.nrm2)) AS cos
        |      FROM corpus co JOIN queries q USING (cluster))
        |SELECT q_id, rk, neighbor_id, cluster, cos FROM (
        |  SELECT q_id, vec_id AS neighbor_id, cluster, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk
        |  FROM s)
        |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    "q57_view_json_mutate" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS n2,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_kept,
        |  CAST(NULL AS BIGINT) AS k_removed,
        |  'x' AS tag,
        |  '2' AS arr1
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,

    "q58_view_elt_field" ->
      """SELECT n_nationkey,
        |  ['africa', 'america', 'asia', 'europe', 'mideast'][CAST(n_regionkey AS INT) + 1] AS region_elt,
        |  CAST(CASE n_name WHEN 'FRANCE' THEN 1 WHEN 'GERMANY' THEN 2
        |       WHEN 'CHINA' THEN 3 ELSE 0 END AS BIGINT) AS field_pos,
        |  format('{:,}', (n_nationkey * 10005) // 10) || '.' ||
        |    CAST((n_nationkey * 10005) % 10 AS VARCHAR) AS fmt,
        |  substr(n_name, 1, 1) || '***' || substr(n_name, 5) AS name_patched,
        |  37805 AS t2s
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    "q59_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // Tolerance-based oracle (ADVICE r5): each engine checks ITS OWN sketch
    // against ITS OWN exact value — the exact columns hash cross-engine, the
    // ok-booleans hash because both sketches sit far inside the 5% band.
    "q60_approx_stats" ->
      """WITH o AS (SELECT o_orderstatus, o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |a AS (SELECT o_orderstatus,
        |    approx_count_distinct(o_custkey) AS ac,
        |    count(DISTINCT o_custkey) AS ec,
        |    approx_quantile(c, 0.5) AS am,
        |    CAST(2 * quantile_cont(c, 0.5) AS BIGINT) AS em2
        |  FROM o GROUP BY o_orderstatus)
        |SELECT o_orderstatus,
        |  CAST(ec AS BIGINT) AS exact_custs,
        |  em2 AS exact_median_x2,
        |  (abs(ac - ec) * 20 <= ec) AS custs_ok,
        |  (abs(2 * am - em2) * 20 <= em2) AS median_ok
        |FROM a ORDER BY o_orderstatus""".stripMargin,

    "q61_sample_topk" ->
      raw"""WITH d AS (SELECT lang, doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS pri
        |  FROM documents)
        |SELECT lang, rk, doc_id, pri FROM (
        |  SELECT lang, doc_id, pri,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS BIGINT) AS rk
        |  FROM d)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    "q62_range_window" ->
      """SELECT user_id, event_id, us, n_5min, cents_5min FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(count(*) OVER w AS BIGINT) AS n_5min,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_5min
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW))
        |ORDER BY user_id, event_id""".stripMargin,

    "q63_resample" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS hour,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |ag AS (SELECT hour, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
        |       FROM e GROUP BY hour),
        |b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM e),
        |sp AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b)
        |SELECT sp.hour, coalesce(n, 0) AS n_events, coalesce(cents, 0) AS value_cents
        |FROM sp LEFT JOIN ag ON sp.hour = ag.hour
        |ORDER BY sp.hour""".stripMargin,

    "q64_fuzzy_name" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_size, p_name FROM part)
        |SELECT a.p_brand, a.p_partkey AS pk_a, b.p_partkey AS pk_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 5
        |ORDER BY pk_a, pk_b""".stripMargin,

    "q65_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders),
        |upd AS (SELECT o_orderkey, price_cents + 100000 AS new_cents
        |        FROM base WHERE o_orderkey % 100 = 0)
        |SELECT b.o_orderkey, b.o_custkey,
        |  CAST(coalesce(u.new_cents, b.price_cents) AS BIGINT) AS price_cents
        |FROM base b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
        |WHERE b.o_orderkey % 177 <> 0
        |ORDER BY b.o_orderkey""".stripMargin,

    "q66_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, status, priority""".stripMargin,

    "q67_correlated_subq" ->
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT)
        |   FROM orders o WHERE o.o_custkey = c.c_custkey
        |     AND o.o_orderstatus = 'F') AS f_cents
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,

    "q68_lateral_topk" ->
      """SELECT c.c_custkey, o.o_orderkey, o.price_cents
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |         FROM orders WHERE o_custkey = c.c_custkey
        |         ORDER BY price_cents DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.price_cents DESC, o.o_orderkey""".stripMargin,

    "q69_topk_aggregator" ->
      """SELECT o_orderstatus, rk, o_orderkey, price_cents FROM (
        |  SELECT o_orderstatus, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderstatus, rk""".stripMargin,

    "q70_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |wc AS (SELECT doc_id, w, count(*) AS c
        |       FROM (SELECT doc_id, unnest(ws) AS w FROM d) GROUP BY doc_id, w),
        |top AS (SELECT doc_id, w AS top_word, CAST(c AS BIGINT) AS top_word_n
        |        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                ORDER BY c DESC, w) AS rk FROM wc)
        |        WHERE rk = 1),
        |g AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |        list_transform(generate_series(1, len(ws) - 1),
        |          i -> ws[i] || ' ' || ws[i+1]) AS gs
        |      FROM d)
        |SELECT g.doc_id, n_words, top_word, top_word_n,
        |  CAST(len(gs) - len(list_distinct(gs)) AS BIGINT) AS dup_2gram_n,
        |  CAST(top_word_n AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac
        |FROM g JOIN top ON g.doc_id = top.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    "q71_df_quality" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        |           FROM documents),
        |dw AS (SELECT doc_id, unnest(ws) AS w FROM d),
        |dfreq AS (SELECT w, count(*) AS df FROM dw GROUP BY w),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, count(*) AS n_distinct_words,
        |  CAST(sum(df) AS BIGINT) AS sum_df,
        |  CAST(sum(CASE WHEN df * 5 < n.n THEN 1 ELSE 0 END) AS BIGINT) AS rare_words
        |FROM dw JOIN dfreq USING (w) CROSS JOIN n
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q72_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q73_vocab_topk" ->
      """SELECT w, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w
        |ORDER BY n_occurrences DESC, w
        |LIMIT 20""".stripMargin,

    "q74_corpus_clean" ->
      raw"""WITH f AS (SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS n_words,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                $FpByteFold) AS fp,
        |    min(doc_id) OVER (PARTITION BY
        |      coalesce(md5(text), 'null:' || CAST(doc_id AS VARCHAR))) AS keep_id
        |  FROM documents),
        |r AS (SELECT lang,
        |    CASE WHEN doc_id <> keep_id THEN 'exact_dup'
        |         WHEN n_words < 20 OR n_words > 500 THEN 'quality'
        |         WHEN fp % 10 >= 8 THEN 'sampled_out'
        |         ELSE 'kept' END AS reason
        |  FROM f)
        |SELECT lang, reason, count(*) AS n_docs
        |FROM r GROUP BY lang, reason
        |ORDER BY lang, reason""".stripMargin,

    "q75_tokenize" ->
      """WITH t AS (SELECT event_type,
        |    regexp_extract_all(props, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS toks
        |  FROM events),
        |p AS (SELECT event_type,
        |    len(toks) AS n_toks,
        |    len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]'))) AS n_alpha,
        |    len(list_filter(toks, x -> regexp_matches(x, '^[0-9]'))) AS n_num,
        |    CASE WHEN len(toks) = 0 THEN 0
        |         ELSE list_reduce(list_transform(toks, x -> (length(x) + 3) // 4),
        |                          (a, b) -> a + b)
        |    END AS bpe
        |  FROM t)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_alpha) AS BIGINT) AS n_alpha,
        |  CAST(sum(n_num) AS BIGINT) AS n_num,
        |  CAST(sum(n_toks - n_alpha - n_num) AS BIGINT) AS n_punct,
        |  CAST(sum(bpe) AS BIGINT) AS bpe_units
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q76_contamination" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(1, len(ws) - 4),
        |        i -> array_to_string(list_slice(ws, i, i + 4), ' ')))) AS g
        |      FROM d),
        |ev AS (SELECT DISTINCT g AS eg FROM g WHERE doc_id % 20 = 0)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN eg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(sum(CASE WHEN eg IS NOT NULL THEN 1 ELSE 0 END) * 1000
        |       // count(*) AS BIGINT) AS contam_permille
        |FROM (SELECT * FROM g WHERE doc_id % 20 <> 0) c LEFT JOIN ev ON c.g = ev.eg
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q77_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(generate_series(0, (len(ws) - 1) // 10),
        |        i -> array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' '))) AS chunk
        |      FROM d),
        |f AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs_with FROM c GROUP BY chunk)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
        |FROM c JOIN f USING (chunk)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q78_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS click_us FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us >= view_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us >= click_us GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN view_us IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN click_us IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN purchase_us IS NULL THEN 0 ELSE 1 END AS BIGINT) AS stage,
        |  view_us, click_us, purchase_us
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |ORDER BY u.user_id""".stripMargin,

    // q79 replays q50's cluster derivation (same minhash/LSH CTE chain),
    // then resolves each cluster to its keep-best member.
    "q79_keep_best" ->
      raw"""WITH RECURSIVE docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
        |hs AS (SELECT doc_id, list_transform(shingles,
        |         s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                          $FpByteFold)) AS h FROM sh),
        |sig AS (SELECT doc_id, [
        |  list_min(list_transform(h, x -> (3 * x + 1) % 1000000007)),
        |  list_min(list_transform(h, x -> (7 * x + 5) % 1000000007)),
        |  list_min(list_transform(h, x -> (11 * x + 13) % 1000000007)),
        |  list_min(list_transform(h, x -> (17 * x + 29) % 1000000007)),
        |  list_min(list_transform(h, x -> (23 * x + 37) % 1000000007)),
        |  list_min(list_transform(h, x -> (31 * x + 43) % 1000000007)),
        |  list_min(list_transform(h, x -> (41 * x + 53) % 1000000007)),
        |  list_min(list_transform(h, x -> (47 * x + 61) % 1000000007)),
        |  list_min(list_transform(h, x -> (59 * x + 71) % 1000000007)),
        |  list_min(list_transform(h, x -> (67 * x + 79) % 1000000007)),
        |  list_min(list_transform(h, x -> (73 * x + 89) % 1000000007)),
        |  list_min(list_transform(h, x -> (83 * x + 101) % 1000000007))] AS sig FROM hs),
        |bands AS (SELECT doc_id, i AS band_idx,
        |    CAST(sig[3*i + 1] AS VARCHAR) || ':' || CAST(sig[3*i + 2] AS VARCHAR)
        |      || ':' || CAST(sig[3*i + 3] AS VARCHAR) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
        |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM cands JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |  WHERE len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) >= 6),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
        |reach AS (
        |  SELECT doc_id, doc_id AS label FROM nodes
        |  UNION
        |  SELECT e.a AS doc_id, r.label FROM edges e JOIN reach r ON r.doc_id = e.b),
        |lab AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS canonical_id
        |        FROM reach GROUP BY doc_id),
        |q AS (SELECT l.doc_id, l.canonical_id, CAST(length(d.text) AS BIGINT) AS n_chars
        |      FROM lab l JOIN documents d ON l.doc_id = d.doc_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY canonical_id
        |        ORDER BY n_chars DESC, doc_id) AS rk FROM q)
        |SELECT canonical_id,
        |  CAST(min(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
        |  CAST(min(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
        |  count(*) AS cluster_size,
        |  CAST(count(*) - 1 AS BIGINT) AS n_discarded
        |FROM r GROUP BY canonical_id ORDER BY canonical_id""".stripMargin,

    "q80_sequence_pack" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_tok
        |      FROM t)
        |SELECT doc_id, lang, n_tokens,
        |  (end_tok - n_tokens) // 2048 AS start_ctx,
        |  (end_tok - 1) // 2048 AS end_ctx,
        |  (end_tok - 1) // 2048 - (end_tok - n_tokens) // 2048 AS n_boundary_crossings
        |FROM c ORDER BY doc_id""".stripMargin,

    // q81: the PII is planted deterministically from doc_id (same
    // derivation here and in the Spark plan), then detected and masked in
    // a fixed email -> ip -> number pass order.
    "q81_pii_redact" ->
      raw"""WITH p AS (SELECT doc_id,
        |    coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST(doc_id % 100 AS VARCHAR)
        |      || ' ref ' || CAST(doc_id * 1000003 + 1000007 AS VARCHAR) AS pii_text
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS r1
        |  FROM p),
        |s2 AS (SELECT doc_id, n_emails,
        |    CAST(len(regexp_extract_all(r1, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
        |    regexp_replace(r1, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '[IP]', 'g') AS r2
        |  FROM s1),
        |s3 AS (SELECT doc_id, n_emails, n_ips,
        |    CAST(len(regexp_extract_all(r2, '\d{6,}')) AS BIGINT) AS n_longnums,
        |    regexp_replace(r2, '\d{6,}', '[NUM]', 'g') AS redacted
        |  FROM s2)
        |SELECT doc_id, n_emails, n_ips, n_longnums,
        |  CAST(length(redacted) AS BIGINT) AS redacted_chars,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(redacted, ''), c -> CAST(ascii(c) AS BIGINT))),
        |              $FpByteFold) AS redacted_fp
        |FROM s3 ORDER BY doc_id""".stripMargin,

    "q82_lang_mixture" ->
      """WITH l AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |w AS (SELECT *, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w_sqrt FROM l)
        |SELECT lang, n_docs, n_tokens, w_sqrt,
        |  w_sqrt * 1000000 // CAST(sum(w_sqrt) OVER () AS BIGINT) AS weight_ppm
        |FROM w ORDER BY lang""".stripMargin,

    "q83_shard_assign" ->
      raw"""WITH f AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(CAST(doc_id AS VARCHAR) || ':' || coalesce(text, ''), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp
        |  FROM documents),
        |sh AS (SELECT doc_id, fp, fp % 16 AS shard FROM f)
        |SELECT doc_id, fp, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY fp, doc_id) AS BIGINT) AS pos
        |FROM sh ORDER BY doc_id""".stripMargin,

    "q84_inverted_index" ->
      """WITH pairs AS (SELECT DISTINCT term, doc_id
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> ''),
        |t AS (SELECT term, count(*) AS df,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM pairs GROUP BY term)
        |SELECT term, df, postings FROM t
        |WHERE df >= 5 ORDER BY df DESC, term LIMIT 100""".stripMargin,

    "q85_zorder_layout" ->
      """WITH b AS (SELECT o_orderkey,
        |    o_custkey % 65536 AS x,
        |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) % 65536 AS y
        |  FROM orders),
        |z AS (SELECT *,
        |    CAST(list_sum(list_transform(generate_series(0, 15),
        |      i -> ((x >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
        |         + ((y >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))) AS BIGINT) AS zval
        |  FROM b),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY zval, o_orderkey) AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM z)
        |SELECT (rn - 1) * 32 // n AS bucket, count(*) AS n_rows,
        |  min(x) AS x_min, max(x) AS x_max,
        |  min(y) AS y_min, max(y) AS y_max,
        |  min(zval) AS z_min, max(zval) AS z_max
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q86_quantile_trim" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM t),
        |k AS (SELECT *, rk * 20 > n AND rk * 20 <= n * 19 AS keep FROM r)
        |SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  min(CASE WHEN keep THEN n_tokens END) AS kept_min_tokens,
        |  max(CASE WHEN keep THEN n_tokens END) AS kept_max_tokens,
        |  CAST(sum(CASE WHEN keep THEN n_tokens END) AS BIGINT) AS kept_sum_tokens
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    "q87_collocations" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |uni AS (SELECT u.w, count(*) AS n_w
        |        FROM (SELECT unnest(ws) AS w FROM w) u GROUP BY u.w),
        |bi AS (SELECT g.a, g.b, count(*) AS n_ab FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS g FROM w)
        |  GROUP BY g.a, g.b HAVING count(*) >= 5)
        |SELECT a, b, n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
        |  n_ab * 1000000000000 // (ua.n_w * ub.n_w) AS lift_ppt
        |FROM bi JOIN uni ua ON bi.a = ua.w JOIN uni ub ON bi.b = ub.w
        |ORDER BY lift_ppt DESC, a, b LIMIT 50""".stripMargin,

    "q88_stratified_split" ->
      raw"""WITH f AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(coalesce(text, '') || '#' || CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp
        |  FROM documents),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY fp, doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM f),
        |k AS (SELECT *, CASE WHEN rk * 20 <= n THEN 'test'
        |                     WHEN rk * 20 <= n * 2 THEN 'val'
        |                     ELSE 'train' END AS split FROM r)
        |SELECT lang, split, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc_id
        |FROM k GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    "q89_compaction_plan" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(coalesce(length(text), 0) AS BIGINT) AS n_bytes FROM documents),
        |c AS (SELECT *, CAST(sum(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_byte
        |      FROM t)
        |SELECT source, (end_byte - 1) // 262144 AS file_seq,
        |  count(*) AS n_docs,
        |  CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
        |  min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id
        |FROM c GROUP BY source, file_seq ORDER BY source, file_seq""".stripMargin,

    "q90_skew_audit" ->
      """WITH tot AS (SELECT count(*) AS total FROM lineitem),
        |s AS (SELECT CAST(l_suppkey AS BIGINT) AS key, count(*) AS n_rows
        |      FROM lineitem GROUP BY 1 ORDER BY n_rows DESC, key LIMIT 5),
        |p AS (SELECT CAST(l_partkey AS BIGINT) AS key, count(*) AS n_rows
        |      FROM lineitem GROUP BY 1 ORDER BY n_rows DESC, key LIMIT 5),
        |u AS (
        |  SELECT 'l_suppkey' AS key_col, key, n_rows,
        |    n_rows * 1000000 // total AS share_ppm FROM s CROSS JOIN tot
        |  UNION ALL
        |  SELECT 'l_partkey' AS key_col, key, n_rows,
        |    n_rows * 1000000 // total AS share_ppm FROM p CROSS JOIN tot)
        |SELECT key_col, key, n_rows, share_ppm FROM u
        |ORDER BY key_col, n_rows DESC, key""".stripMargin,

    "q91_global_deciles" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM t)
        |SELECT (rn - 1) * 10 // n AS decile, count(*) AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM r GROUP BY decile ORDER BY decile""".stripMargin,

    // q92: the size-ratio prefilter in the Spark plan is exact-implied by
    // J >= 0.8, so the oracle needs only the Jaccard condition itself.
    "q92_incr_dedup" ->
      """WITH d AS (SELECT doc_id, lang, text,
        |    list_distinct(string_split(text, ' ')) AS ws FROM documents),
        |b AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |c AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
        |ex AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON md5(b.text) = md5(c.text)),
        |nr AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_near_dups
        |       FROM b JOIN c ON b.lang = c.lang
        |       WHERE len(list_intersect(b.ws, c.ws)) * 10 >=
        |             (len(b.ws) + len(c.ws) - len(list_intersect(b.ws, c.ws))) * 8
        |       GROUP BY b.doc_id)
        |SELECT b.doc_id, ex.doc_id IS NOT NULL AS dup_exact,
        |  CAST(coalesce(nr.n_near_dups, 0) AS BIGINT) AS n_near_dups
        |FROM b LEFT JOIN ex USING (doc_id) LEFT JOIN nr USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q93: max is order-independent; the error sum is a sequential fold
    // (DuckDB's no-init list_reduce == Spark's 0D-init aggregate because
    // 0 + e1 == e1 exactly); round() is half-away-from-zero in both.
    "q93_quantize_audit" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e
        |  WHERE list_max(list_transform(v, x -> abs(x))) > 0),
        |q AS (SELECT vec_id, v, scale,
        |    list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) AS qv FROM s)
        |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS abs_q_sum,
        |  CAST(list_sum(list_transform(qv,
        |    x -> CASE WHEN abs(x) = 127 THEN 1 ELSE 0 END)) AS BIGINT) AS n_saturated,
        |  list_reduce(list_transform(generate_series(1, len(v)),
        |    i -> (v[i] - qv[i] * scale) * (v[i] - qv[i] * scale)),
        |    (a, b) -> a + b) AS sq_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "q94_dup_gram_coverage" ->
      raw"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 4),
        |        i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |               string_split(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                 || ' ' || ws[i+3] || ' ' || ws[i+4], ''),
        |               c -> CAST(ascii(c) AS BIGINT))),
        |             $FpByteFold))) AS gf
        |      FROM w),
        |dpg AS (SELECT gf, count(*) AS n_docs_with
        |        FROM (SELECT DISTINCT doc_id, gf FROM g) GROUP BY gf)
        |SELECT doc_id, count(*) AS n_gram_positions,
        |  CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_positions,
        |  CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // count(*) AS dup_coverage_ppm
        |FROM g JOIN dpg USING (gf)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q95_embed_coverage" ->
      """WITH e AS (SELECT DISTINCT vec_id AS doc_id, 1 AS has_emb FROM embeddings),
        |d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(coalesce(has_emb, 0)) AS BIGINT) AS n_embedded,
        |  CAST(sum(CASE WHEN has_emb IS NOT NULL THEN n_tokens END) AS BIGINT) AS embedded_tokens,
        |  CAST(sum(CASE WHEN has_emb IS NULL THEN n_tokens END) AS BIGINT) AS uncovered_tokens,
        |  CAST(sum(coalesce(has_emb, 0)) AS BIGINT) * 1000000 // count(*) AS coverage_ppm
        |FROM d LEFT JOIN e USING (doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // q96: NULL text yields a NULL ws -> the sequence/explode drops the
    // doc on both sides identically.
    "q96_chunk_split" ->
      raw"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, ws, len(ws) AS n_tokens,
        |    unnest(generate_series(0,
        |      CASE WHEN len(ws) <= 64 THEN 0
        |           ELSE (len(ws) - 64 + 47) // 48 END)) AS k
        |  FROM w)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |  CAST(k * 48 AS BIGINT) AS start_tok,
        |  CAST(least(n_tokens, k * 48 + 64) AS BIGINT) AS end_tok,
        |  CAST(least(n_tokens, k * 48 + 64) - k * 48 AS BIGINT) AS chunk_tokens,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |    string_split(array_to_string(ws[k * 48 + 1 : least(n_tokens, k * 48 + 64)], ' '), ''),
        |    ch -> CAST(ascii(ch) AS BIGINT))),
        |    $FpByteFold) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q97_lang_agreement" ->
      """WITH p AS (SELECT lang,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(list_filter(string_split(text, ' '),
        |        w -> w = 'the' OR w = 'a' OR w = 'of')) AS stop_hits
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN stop_hits * 20 >= n_words THEN 'en' ELSE 'unknown' END AS pred_lang,
        |  count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_tokens
        |FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,

    "q98_corpus_report" ->
      """WITH c AS (SELECT source, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars FROM documents),
        |g AS (SELECT *, CASE WHEN n_tokens IS NULL THEN NULL
        |                     WHEN n_tokens >= 12 AND n_chars >= 50
        |                     THEN CAST(1 AS BIGINT)
        |                     ELSE CAST(0 AS BIGINT) END AS passes
        |      FROM c)
        |SELECT CASE WHEN grouping(source) = 1 THEN '(all)'
        |            ELSE coalesce(source, '(null)') END AS source,
        |       CASE WHEN grouping(lang) = 1 THEN '(all)'
        |            ELSE coalesce(lang, '(null)') END AS lang,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       CAST(sum(passes) AS BIGINT) AS n_pass,
        |       CAST(sum(passes) AS BIGINT) * 1000000 // count(*) AS pass_ppm
        |FROM g
        |GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
        |ORDER BY source, lang""".stripMargin,

    "q99_retention_cohorts" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, week,
        |    min(week) OVER (PARTITION BY user_id) AS cohort_week FROM a),
        |g AS (SELECT cohort_week, week - cohort_week AS week_offset,
        |    count(*) AS n_users FROM c GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_users,
        |  n_users * 1000000 // max(CASE WHEN week_offset = 0 THEN n_users END)
        |    OVER (PARTITION BY cohort_week) AS retention_ppm
        |FROM g ORDER BY cohort_week, week_offset""".stripMargin,

    // q100: the Spark side is a Misra-Gries sketch + exact recount of the
    // candidates; MG with k=400 provably retains every word above N/401,
    // so filtering the exact recount at N/200 equals the plain HAVING.
    "q100_heavy_hitters" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |t AS (SELECT count(*) AS total FROM w)
        |SELECT w, count(*) AS n_occurrences,
        |  CAST(count(*) * 1000000 // total AS BIGINT) AS share_ppm
        |FROM w CROSS JOIN t
        |GROUP BY w, total
        |HAVING count(*) * 200 > total
        |ORDER BY w""".stripMargin,

    "q101_active_window" ->
      """WITH p AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |m AS (SELECT max(day) AS max_day FROM p),
        |c AS (SELECT user_id, day + k AS day
        |      FROM p CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) g),
        |t AS (SELECT day, count(DISTINCT user_id) AS n_active_7d
        |      FROM c CROSS JOIN m WHERE day <= max_day GROUP BY day),
        |d AS (SELECT day, count(*) AS n_active_1d FROM p GROUP BY day)
        |SELECT t.day, CAST(coalesce(d.n_active_1d, 0) AS BIGINT) AS n_active_1d,
        |  n_active_7d
        |FROM t LEFT JOIN d USING (day) ORDER BY day""".stripMargin,

    // q102: int64->string rendering is engine-portable (double->string is
    // not), so the row hash goes through cents / epoch-day integer forms.
    "q102_snapshot_diff" ->
      """WITH cur AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 177 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 211 = 0),
        |bh AS (SELECT o_orderkey AS k, md5(concat_ws('|',
        |    CAST(o_custkey AS VARCHAR), o_orderstatus,
        |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
        |    CAST(epoch_us(o_orderdate) // 86400000000 AS VARCHAR),
        |    o_orderpriority)) AS h FROM orders),
        |ch AS (SELECT o_orderkey AS k, md5(concat_ws('|',
        |    CAST(o_custkey AS VARCHAR), o_orderstatus,
        |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
        |    CAST(epoch_us(o_orderdate) // 86400000000 AS VARCHAR),
        |    o_orderpriority)) AS h FROM cur),
        |j AS (SELECT coalesce(bh.k, ch.k) AS k, bh.h AS hb, ch.h AS hc
        |      FROM bh FULL OUTER JOIN ch ON bh.k = ch.k)
        |SELECT CASE WHEN hb IS NULL THEN 'added'
        |            WHEN hc IS NULL THEN 'deleted'
        |            WHEN hb <> hc THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |  count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS sum_keys,
        |  min(k) AS min_key, max(k) AS max_key
        |FROM j GROUP BY status ORDER BY status""".stripMargin,

    // q103: the Spark side is a banded LSH join; 4 disjoint 4-bit bands
    // make recall EXACT for hamming<=3 (pigeonhole), so the brute-force
    // all-pairs oracle is the same relation.
    "q103_simhash_neardup" ->
      raw"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |hw AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(word, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                    $FpByteFold) AS hw FROM w),
        |v AS (SELECT doc_id, b.b,
        |        CASE WHEN sum(CASE WHEN ((hw >> b.b) & 1) = 1 THEN 1 ELSE -1 END) > 0
        |             THEN (CAST(1 AS BIGINT) << b.b) ELSE 0 END AS val
        |      FROM hw CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) b
        |      GROUP BY doc_id, b.b),
        |h AS (SELECT doc_id, CAST(sum(val) AS BIGINT) AS simhash
        |      FROM v GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db
        |      FROM h a JOIN h b ON a.doc_id < b.doc_id
        |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |u AS (SELECT da AS doc_id, db AS partner FROM p
        |      UNION ALL SELECT db, da FROM p),
        |n AS (SELECT doc_id, count(*) AS n_near, min(partner) AS min_partner
        |      FROM u GROUP BY doc_id)
        |SELECT h.doc_id, h.simhash,
        |  CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near_dups,
        |  CAST(coalesce(n.min_partner, -1) AS BIGINT) AS min_partner
        |FROM h LEFT JOIN n USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q104_partition_prune" ->
      """SELECT epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY day ORDER BY day""".stripMargin,

    "q105_profile_table" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |    epoch_us(o_orderdate) // 86400000000 AS order_day,
        |    o_orderpriority FROM orders),
        |u AS (
        |  SELECT 'o_orderkey' AS column_name,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM o
        |  UNION ALL
        |  SELECT 'o_custkey',
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM o
        |  UNION ALL
        |  SELECT 'o_orderstatus',
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM o
        |  UNION ALL
        |  SELECT 'price_cents',
        |    CAST(sum(CASE WHEN price_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT price_cents),
        |    CAST(min(price_cents) AS VARCHAR), CAST(max(price_cents) AS VARCHAR) FROM o
        |  UNION ALL
        |  SELECT 'order_day',
        |    CAST(sum(CASE WHEN order_day IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT order_day),
        |    CAST(min(order_day) AS VARCHAR), CAST(max(order_day) AS VARCHAR) FROM o
        |  UNION ALL
        |  SELECT 'o_orderpriority',
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM o)
        |SELECT column_name, n_nulls, n_distinct, min_s, max_s
        |FROM u ORDER BY column_name""".stripMargin,

    // q106: integer-space Lloyd's is exact, so the 3 iterations unroll as
    // CTEs; parallel unnests zip (DuckDB), replicating posexplode. The
    // centroid mean divides exact int64 sums in double (both engines IEEE,
    // same two operands -> same quotient) and rounds half-away (q93 rule).
    "q106_kmeans" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
        |       FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 8)),
        |a1 AS (SELECT vec_id, q, cid, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c0 c)) WHERE rn = 1),
        |x1 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a1),
        |s1 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x1 GROUP BY cid, i),
        |u1 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s1 GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(u1.c, c0.c) AS c FROM c0 LEFT JOIN u1 USING (cid)),
        |a2 AS (SELECT vec_id, q, cid, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c1 c)) WHERE rn = 1),
        |x2 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a2),
        |s2 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x2 GROUP BY cid, i),
        |u2 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s2 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(u2.c, c1.c) AS c FROM c1 LEFT JOIN u2 USING (cid)),
        |a3 AS (SELECT vec_id, cid, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c2 c)) WHERE rn = 1)
        |SELECT cid AS cluster_id, count(*) AS n_members,
        |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids,
        |  CAST(sum(d) AS BIGINT) AS inertia, min(vec_id) AS min_vec_id
        |FROM a3 GROUP BY cid ORDER BY cluster_id""".stripMargin,

    // q107: integer ppm ratios instead of log-probabilities — libm log()
    // differs by ulps across engines, integer division never does.
    "q107_bigram_lm" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w),
        |g AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM x),
        |c2 AS (SELECT w1, w2, count(*) AS n12 FROM g GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
        |d AS (SELECT c2.w1, c2.w2, n12 * 1000000 // n1 AS ppm
        |      FROM c2 JOIN c1 USING (w1))
        |SELECT doc_id, count(*) AS n_pairs,
        |  CAST(sum(ppm) AS BIGINT) // count(*) AS avg_predict_ppm
        |FROM g JOIN d USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q108_kanon_audit" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS segment,
        |  count(*) AS n_members,
        |  1000000 // count(*) AS risk_ppm,
        |  CASE WHEN count(*) < 5 THEN 'suppress' ELSE 'publish' END AS verdict
        |FROM customer GROUP BY 1, 2 ORDER BY nationkey, segment""".stripMargin,

    // q109: ordered by the FULL item rendering — l_linenumber is not
    // unique within an order, so a partial sort key leaves ties
    // engine-specific.
    "q109_nested_export" ->
      """WITH it AS (SELECT l_orderkey,
        |    CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)
        |      || ':' || CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR)
        |      || ':' || CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)
        |      AS item
        |  FROM lineitem)
        |SELECT l_orderkey, count(*) AS n_items,
        |  md5(string_agg(item, '|' ORDER BY item)) AS items_md5
        |FROM it GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    // q110: support counts orders (the incidence is deduped), lift in
    // integer ppm — n_both·T·1e6 stays far under 2^63.
    "q110_copurchase" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_both
        |      FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |f AS (SELECT pk, count(*) AS n FROM po GROUP BY pk),
        |t AS (SELECT count(DISTINCT ok) AS t FROM po)
        |SELECT p1, p2, n_both,
        |  CAST(n_both * t * 1000000 // (f1.n * f2.n) AS BIGINT) AS lift_ppm
        |FROM p JOIN f f1 ON p.p1 = f1.pk JOIN f f2 ON p.p2 = f2.pk CROSS JOIN t
        |ORDER BY p1, p2""".stripMargin,

    // q111: the window's ORDER BY includes the orderkey tiebreak — two
    // same-day orders of one customer must version deterministically.
    "q111_scd2" ->
      """SELECT o_custkey,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  CAST(o_orderdate AS DATE) AS valid_from,
        |  lead(CAST(o_orderdate AS DATE)) OVER w AS valid_to,
        |  o_orderstatus AS status,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
        |ORDER BY o_custkey, version""".stripMargin,

    // q112: hourly buckets — first contact is front-loaded in this corpus,
    // so daily buckets would collapse the curve to two rows.
    "q112_first_seen" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts) // 3600000000) AS hour
        |           FROM events GROUP BY user_id),
        |d AS (SELECT hour, count(*) AS n_new_users FROM f GROUP BY hour)
        |SELECT hour, n_new_users,
        |  CAST(sum(n_new_users) OVER (ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM d ORDER BY hour""".stripMargin,

    // q113: the vocabulary is the top-16 words by (count DESC, word ASC) —
    // a total order, so both engines build the identical vocab.
    "q113_oov_rate" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |v AS (SELECT w, 1 AS in_vocab FROM (
        |        SELECT w, count(*) AS n FROM w GROUP BY w
        |        ORDER BY n DESC, w LIMIT 16)),
        |s AS (SELECT doc_id, count(*) AS n_tokens,
        |        CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_oov
        |      FROM w LEFT JOIN v USING (w) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  n_oov * 1000000 // n_tokens AS oov_ppm
        |FROM s ORDER BY doc_id""".stripMargin,

    "q114_length_histogram" ->
      """SELECT lang, least(n_chars // 100, 19) AS bucket,
        |  count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    "q115_transitions" ->
      """WITH p AS (SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type,
        |        count(*) AS n_transitions
        |      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_transitions,
        |  CAST(n_transitions * 1000000 //
        |    sum(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS p_ppm
        |FROM c ORDER BY prev_type, next_type""".stripMargin,

    // q116: integer cut comparisons (cum·100 ≤ total·80) — no percentage
    // doubles; cum·1e6 ≈ 2e17 would drown in a 53-bit mantissa.
    "q116_abc_classes" ->
      """WITH r AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS revenue_cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS total FROM r),
        |c AS (SELECT l_partkey, revenue_cents,
        |    CAST(sum(revenue_cents) OVER (ORDER BY revenue_cents DESC,
        |      l_partkey) AS BIGINT) AS cum FROM r)
        |SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
        |            WHEN cum * 100 <= total * 95 THEN 'B'
        |            ELSE 'C' END AS abc_class,
        |  count(*) AS n_parts,
        |  CAST(sum(revenue_cents) AS BIGINT) AS revenue_cents,
        |  min(l_partkey) AS min_partkey,
        |  CAST(sum(revenue_cents) * 1000000 // total AS BIGINT) AS share_ppm
        |FROM c CROSS JOIN t GROUP BY 1, total ORDER BY abc_class""".stripMargin,

    // q117: word-trigram shingles — the unigram vocabulary is fully shared
    // across sources (every pair would score 1.0 and verify nothing).
    "q117_source_overlap" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
        |x AS (SELECT source, ws,
        |        unnest(generate_series(1, len(ws) - 2)) AS i FROM w),
        |g AS (SELECT DISTINCT source,
        |        ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS t FROM x),
        |i AS (SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
        |      FROM g a JOIN g b ON a.t = b.t AND a.source < b.source
        |      GROUP BY 1, 2),
        |z AS (SELECT source, count(*) AS n_vocab FROM g GROUP BY source)
        |SELECT s1, s2, n_shared, z1.n_vocab AS v1, z2.n_vocab AS v2,
        |  n_shared * 1000000 // (z1.n_vocab + z2.n_vocab - n_shared)
        |    AS jaccard_ppm
        |FROM i JOIN z z1 ON i.s1 = z1.source JOIN z z2 ON i.s2 = z2.source
        |ORDER BY s1, s2""".stripMargin,

    // q118: quartile = (rn-1)*4 // n + 1 in BOTH engines — ntile's
    // remainder distribution is engine-ambiguous, integer rank math isn't.
    "q118_rfm_segments" ->
      """WITH b AS (SELECT o_custkey,
        |    max(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |    count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS spend_cents
        |  FROM orders GROUP BY 1),
        |x AS (SELECT *, (SELECT max(last_day) FROM b) - last_day
        |        AS recency_days FROM b),
        |t AS (SELECT count(*) AS n FROM b),
        |q AS (SELECT o_custkey, spend_cents,
        |    (row_number() OVER (ORDER BY recency_days, o_custkey) - 1) * 4
        |      // n + 1 AS r_q,
        |    (row_number() OVER (ORDER BY n_orders DESC, o_custkey) - 1) * 4
        |      // n + 1 AS f_q,
        |    (row_number() OVER (ORDER BY spend_cents DESC, o_custkey) - 1) * 4
        |      // n + 1 AS m_q
        |  FROM x CROSS JOIN t)
        |SELECT r_q, f_q, m_q, count(*) AS n_customers,
        |  CAST(sum(spend_cents) AS BIGINT) AS segment_cents
        |FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin,

    // q119: exact top-1% rank band, not an approximate percentile — the
    // threshold is the min flagged value, NULL when n < 100.
    "q119_anomaly_p99" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY cents DESC, event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |f AS (SELECT *, CASE WHEN rk <= n // 100 THEN 1 ELSE 0 END
        |        AS is_anom FROM r)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(is_anom) AS BIGINT) AS n_anomalies,
        |  min(CASE WHEN is_anom = 1 THEN cents END) AS threshold_cents,
        |  max(cents) AS max_cents
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q120: same session definition as q54; array_agg with an explicit
    // ORDER BY mirrors Spark's sort_array over (us, event_id) structs.
    "q120_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) AS prev_us FROM e),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |        THEN 1 ELSE 0 END AS new_sess FROM l),
        |g AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS sess_idx FROM f),
        |p AS (SELECT user_id, sess_idx,
        |    array_to_string((array_agg(event_type ORDER BY us, event_id))[1:3],
        |      '>') AS path
        |  FROM g GROUP BY user_id, sess_idx)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY path ORDER BY n_sessions DESC, path""".stripMargin,

    // q121: parent snapshots deterministically damaged (mod 97 / mod 89 —
    // the q102 mutation idiom) so the audit provably detects orphans; the
    // intact edges prove it doesn't false-positive.
    "q121_ri_audit" ->
      """WITH
        |e1 AS (SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS fk_edge,
        |  (SELECT count(*) FROM lineitem) AS n_child,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0))
        |    AS n_orphan),
        |e2 AS (SELECT 'lineitem.l_partkey -> part.p_partkey',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
        |    (SELECT p_partkey FROM part))),
        |e3 AS (SELECT 'lineitem.l_suppkey -> supplier.s_suppkey',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier))),
        |e4 AS (SELECT 'orders.o_custkey -> customer.c_custkey',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer WHERE c_custkey % 89 <> 0))),
        |e5 AS (SELECT 'customer.c_nationkey -> nation.n_nationkey',
        |  (SELECT count(*) FROM customer),
        |  (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
        |    (SELECT n_nationkey FROM nation))),
        |e6 AS (SELECT 'supplier.s_nationkey -> nation.n_nationkey',
        |  (SELECT count(*) FROM supplier),
        |  (SELECT count(*) FROM supplier WHERE s_nationkey NOT IN
        |    (SELECT n_nationkey FROM nation))),
        |e7 AS (SELECT 'region <- nation.n_regionkey',
        |  (SELECT count(*) FROM nation),
        |  (SELECT count(*) FROM nation WHERE n_regionkey NOT IN
        |    (SELECT r_regionkey FROM region))),
        |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |  UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        |  UNION ALL SELECT * FROM e5 UNION ALL SELECT * FROM e6
        |  UNION ALL SELECT * FROM e7)
        |SELECT fk_edge, n_child, n_orphan,
        |  n_orphan * 1000000 // greatest(n_child, 1) AS orphan_ppm
        |FROM u ORDER BY fk_edge""".stripMargin,

    // q122: open/close via first/last in the (us, event_id) total order —
    // arg_min/arg_max with composite keys is engine-wobbly, row_number
    // rank-1 picks are not.
    "q122_ohlc_bars" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(ts) // 3600000000 AS hour FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, hour
        |                       ORDER BY us, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, hour
        |                       ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, hour, count(*) AS n_events,
        |  max(CASE WHEN rn_a = 1 THEN cents END) AS open_cents,
        |  max(cents) AS high_cents,
        |  min(cents) AS low_cents,
        |  max(CASE WHEN rn_d = 1 THEN cents END) AS close_cents,
        |  CAST(sum(cents) AS BIGINT) AS volume_cents
        |FROM r GROUP BY event_type, hour
        |ORDER BY event_type, hour""".stripMargin,

    // q123: the damped propagation loop unrolled as three CTEs — integer
    // ppm arithmetic makes the fixed point bit-identical across engines.
    "q123_item_rank" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pr AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS w
        |       FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT p1 AS src, p2 AS dst, w FROM pr
        |      UNION ALL SELECT p2, p1, w FROM pr),
        |wt AS (SELECT src, CAST(sum(w) AS BIGINT) AS w_tot FROM e GROUP BY src),
        |g AS (SELECT e.src, e.dst, e.w, wt.w_tot FROM e JOIN wt USING (src)),
        |s0 AS (SELECT DISTINCT src AS pk, CAST(1000000 AS BIGINT) AS score FROM e),
        |s1 AS (SELECT dst AS pk,
        |    150000 + 850 * CAST(sum(score * w // w_tot) AS BIGINT) // 1000 AS score
        |  FROM g JOIN s0 ON g.src = s0.pk GROUP BY dst),
        |s2 AS (SELECT dst AS pk,
        |    150000 + 850 * CAST(sum(score * w // w_tot) AS BIGINT) // 1000 AS score
        |  FROM g JOIN s1 ON g.src = s1.pk GROUP BY dst),
        |s3 AS (SELECT dst AS pk,
        |    150000 + 850 * CAST(sum(score * w // w_tot) AS BIGINT) // 1000 AS score
        |  FROM g JOIN s2 ON g.src = s2.pk GROUP BY dst)
        |SELECT pk AS part_key, score AS rank_ppm FROM s3
        |ORDER BY rank_ppm DESC, part_key LIMIT 100""".stripMargin,

    // q124: expected profile recomputed from the SOURCE table via the
    // deterministic even/odd batch rule — the oracle never reads the temp
    // layout the Spark side wrote.
    "q124_schema_evolution" ->
      """WITH t AS (SELECT count(*) AS n FROM orders),
        |a AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 2 = 0),
        |b AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 2 <> 0),
        |u AS (
        |  SELECT 'o_orderkey' AS column_name, t.n AS n_rows, t.n AS n_nonnull FROM t
        |  UNION ALL SELECT 'o_custkey', t.n, t.n FROM t
        |  UNION ALL SELECT 'price_cents', t.n, a.n FROM t CROSS JOIN a
        |  UNION ALL SELECT 'o_orderpriority', t.n, b.n FROM t CROSS JOIN b)
        |SELECT column_name, n_rows, n_nonnull,
        |  n_nonnull * 1000000 // n_rows AS coverage_ppm
        |FROM u ORDER BY column_name""".stripMargin,

    // q125: negative balances land in band 0 in BOTH engines — Spark div
    // and DuckDB // truncate integer division toward zero alike.
    "q125_ldiversity" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  c_mktsegment AS segment, count(*) AS n_members,
        |  CAST(count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT) // 100000)
        |    AS BIGINT) AS n_sensitive,
        |  CASE WHEN count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT)
        |    // 100000) < 3 THEN 'diversify' ELSE 'publish' END AS verdict
        |FROM customer GROUP BY 1, 2 ORDER BY nationkey, segment""".stripMargin,

    // q126: the offset replays graft_fingerprint's polynomial byte hash
    // (q55's portable list_reduce idiom, FpByteFold) — byte-exact on any
    // UTF-8 text, ASCII keys included.
    "q126_negative_pairs" ->
      """WITH t AS (SELECT count(*) AS n FROM documents),
        |d AS (SELECT doc_id, lang,
        |    row_number() OVER (ORDER BY doc_id) AS rn FROM documents),
        |a AS (SELECT doc_id, lang, rn, k FROM d
        |      CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS k)),
        |f AS (SELECT a.*, t.n,
        |    list_reduce(list_transform(
        |      string_split(CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |      (x, y) -> (x * 31 + y) % 1000000007) AS fp
        |  FROM a CROSS JOIN t),
        |o AS (SELECT *, 1 + (fp * fp % 1000000007) % (n - 1) AS off FROM f),
        |j AS (SELECT doc_id, lang, k, ((rn - 1 + off) % n) + 1 AS neg_rn FROM o)
        |SELECT j.doc_id, j.k, d.doc_id AS neg_doc_id, d.lang AS neg_lang,
        |  CAST(CASE WHEN j.lang = d.lang THEN 1 ELSE 0 END AS BIGINT)
        |    AS same_lang
        |FROM j JOIN d ON j.neg_rn = d.rn
        |ORDER BY j.doc_id, j.k""".stripMargin,

    // q127: integer bit-shift decay (cents >> age_weeks) — bit-exact in
    // both engines where a float exp() half-life never is. Shift counts
    // >= 63 clamp to 0 (Java masks the count to 6 bits, DuckDB doesn't)
    // and negatives decay symmetrically toward zero (arithmetic >> floors
    // a negative at -1) — same guards as the Spark side.
    "q127_time_decay" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT max(day) AS max_day FROM e),
        |d AS (SELECT user_id, cents, (max_day - day) // 7 AS w
        |      FROM e CROSS JOIN m)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS raw_cents,
        |  CAST(sum(CASE WHEN w >= 63 THEN 0
        |                WHEN cents >= 0 THEN cents >> w
        |                ELSE -((-cents) >> w) END) AS BIGINT)
        |    AS decayed_cents
        |FROM d
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q128: drift in integer ppm of header cents; ≤1% = 'near'.
    "q128_revenue_reconcile" ->
      """WITH li AS (SELECT l_orderkey AS o_orderkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS li_cents
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT o.o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents, li.li_cents
        |  FROM orders o LEFT JOIN li USING (o_orderkey)),
        |c AS (SELECT *,
        |    abs(o_cents - coalesce(li_cents, 0)) * 1000000
        |      // greatest(o_cents, 1) AS drift_ppm FROM j),
        |v AS (SELECT *, CASE WHEN li_cents IS NULL THEN 'no_lines'
        |    WHEN drift_ppm = 0 THEN 'exact'
        |    WHEN drift_ppm <= 10000 THEN 'near' ELSE 'off' END AS verdict
        |  FROM c)
        |SELECT verdict, count(*) AS n_orders,
        |  CAST(max(drift_ppm) AS BIGINT) AS max_drift_ppm,
        |  min(o_orderkey) AS min_orderkey
        |FROM v GROUP BY verdict ORDER BY verdict""".stripMargin,

    // q129: Σ|Δppm| drift instead of PSI — ln() is engine-inexact,
    // integer shares are not.
    "q129_distribution_drift" ->
      """WITH a AS (SELECT least(n_chars // 100, 19) AS band, count(*) AS n
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT least(n_chars // 100, 19) AS band, count(*) AS n
        |  FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1),
        |ta AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM a),
        |tb AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM b),
        |sa AS (SELECT band, n, n * 1000000 // ta.t AS share FROM a CROSS JOIN ta),
        |sb AS (SELECT band, n, n * 1000000 // tb.t AS share FROM b CROSS JOIN tb)
        |SELECT coalesce(sa.band, sb.band) AS band,
        |  coalesce(sa.n, 0) AS n_a, coalesce(sb.n, 0) AS n_b,
        |  CAST(coalesce(sa.share, 0) AS BIGINT) AS share_a_ppm,
        |  CAST(coalesce(sb.share, 0) AS BIGINT) AS share_b_ppm,
        |  CAST(abs(coalesce(sa.share, 0) - coalesce(sb.share, 0)) AS BIGINT)
        |    AS drift_ppm
        |FROM sa FULL OUTER JOIN sb ON sa.band = sb.band
        |ORDER BY band""".stripMargin,

    // q130: log2 gap band via length(bin(x)) - 1 — string-length integer
    // math both engines compute identically (libm log2() would not be).
    // The gap belongs to the LATER event's type.
    "q130_interarrival" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |g AS (SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS gap_us
        |  FROM e)
        |SELECT event_type,
        |  CAST(length(bin(gap_us)) - 1 AS BIGINT) AS band,
        |  count(*) AS n_gaps,
        |  CAST(min(gap_us) AS BIGINT) AS min_gap_us,
        |  CAST(max(gap_us) AS BIGINT) AS max_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type, band
        |ORDER BY event_type, band""".stripMargin,

    // q131: exact lower-median + MAD via cumulative rank over the value
    // histogram — no interpolation, no sketch; pure integer math.
    "q131_mad_outliers" ->
      """WITH h AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cm AS (SELECT event_type, cents, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cumc,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h),
        |med AS (SELECT event_type, min(cents) AS median_cents, max(n) AS n
        |  FROM cm WHERE cumc * 2 >= n GROUP BY event_type),
        |hd AS (SELECT h.event_type, abs(h.cents - m.median_cents) AS dev,
        |    m.n AS n, sum(h.c) AS c
        |  FROM h JOIN med m USING (event_type) GROUP BY 1, 2, 3),
        |cmd AS (SELECT event_type, dev, c, n,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cumc
        |  FROM hd),
        |mad AS (SELECT event_type, min(dev) AS mad_cents
        |  FROM cmd WHERE cumc * 2 >= n GROUP BY event_type),
        |outl AS (SELECT hd.event_type, CAST(sum(hd.c) AS BIGINT) AS n_out
        |  FROM hd JOIN mad USING (event_type)
        |  WHERE hd.dev > mad.mad_cents * 3 GROUP BY hd.event_type)
        |SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
        |  m.median_cents, mad.mad_cents,
        |  CAST(coalesce(outl.n_out, 0) AS BIGINT) AS n_outliers
        |FROM med m JOIN mad USING (event_type)
        |LEFT JOIN outl USING (event_type)
        |ORDER BY m.event_type""".stripMargin,

    // q132: triangle participation is orientation-independent, so the
    // oracle uses the naive canonical a<b<c three-way join while the Spark
    // side counts over the degree-oriented DAG — they must agree exactly.
    "q132_triangles" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |e AS (SELECT a.pk AS p1, b.pk AS p2
        |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
        |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |corners AS (SELECT a AS part_key FROM tri
        |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT part_key, count(*) AS n_triangles
        |FROM corners GROUP BY part_key
        |ORDER BY n_triangles DESC, part_key LIMIT 20""".stripMargin,

    // q133: virtual-time weighted interleave — stream s's k-th doc at
    // vtime k·1e6 div weight_ppm(s) (clamped >= 1 ppm); the merged
    // (vtime, lang, doc_id) order is the schedule. Fingerprint priority
    // as q61, weights as q82.
    "q133_curriculum" ->
      raw"""WITH d AS (SELECT lang, doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS pri
        |  FROM documents),
        |r AS (SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS BIGINT) AS rk
        |  FROM d),
        |l AS (SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w_sqrt FROM l),
        |ww AS (SELECT lang,
        |    w_sqrt * 1000000 // CAST(sum(w_sqrt) OVER () AS BIGINT) AS weight_ppm
        |  FROM w),
        |k AS (SELECT r.lang, r.doc_id, r.rk,
        |    r.rk * 1000000 // greatest(ww.weight_ppm, 1) AS vtime
        |  FROM r JOIN ww USING (lang))
        |SELECT CAST(row_number() OVER (ORDER BY vtime, lang, doc_id) AS BIGINT) AS pos,
        |  lang, doc_id, rk, vtime
        |FROM k ORDER BY pos""".stripMargin,

    // q134: the Bloom prefilter is transparent — false positives are
    // removed by the exact semi-join, false negatives are impossible — so
    // the oracle is the PLAIN semi-join aggregate.
    "q134_bloom_prefilter" ->
      """SELECT l.l_returnflag,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT))
        |    AS BIGINT) AS qty_x100,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |WHERE l.l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice >= 450000.0)
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin,

    // q135: the oracle states PIT semantics declaratively — interval
    // containment against the SCD2 version table ([valid_from, valid_to),
    // open tail = NULL). Same-day version chains leave empty intervals, so
    // at most one version contains any date; the Spark side's as-of union
    // trick must agree row for row.
    "q135_pit_join" ->
      """WITH scd AS (SELECT o_custkey,
        |    CAST(row_number() OVER w AS BIGINT) AS version,
        |    CAST(o_orderdate AS DATE) AS valid_from,
        |    lead(CAST(o_orderdate AS DATE)) OVER w AS valid_to,
        |    o_orderstatus AS status
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY CAST(o_orderdate AS DATE), o_orderkey)),
        |f AS (SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
        |    o.o_custkey, CAST(l.l_shipdate AS DATE) AS ship_date
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT f.l_orderkey, f.l_linenumber, f.o_custkey, f.ship_date,
        |  d.version, d.status
        |FROM f LEFT JOIN scd d
        |  ON f.o_custkey = d.o_custkey AND f.ship_date >= d.valid_from
        |  AND (d.valid_to IS NULL OR f.ship_date < d.valid_to)
        |ORDER BY f.l_orderkey, f.l_linenumber""".stripMargin,

    // q136: the oracle is the full recompute the incremental merge
    // replaces — state(9 deciles) + delta(1 decile) must equal one pass
    // over everything.
    "q136_incr_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // q137: salting is semantics-preserving for inner joins — the oracle
    // is the plain unsalted join aggregate.
    "q137_salted_join" ->
      """SELECT CAST(s.s_nationkey AS BIGINT) AS s_nationkey,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q138: q76's gram/eval construction with POSITIONS; the interval
    // union is the same two-window pass on both engines (running
    // max(end) over preceding rows flags span starts).
    "q138_contam_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |        unnest(list_transform(generate_series(1, len(ws) - 4),
        |          i -> {'pos': i,
        |                'gram': array_to_string(list_slice(ws, i, i + 4), ' ')}))
        |          AS pg
        |      FROM d),
        |ev AS (SELECT DISTINCT pg.gram AS eg FROM g WHERE doc_id % 20 = 0),
        |h AS (SELECT doc_id, n_tokens, CAST(pg.pos AS BIGINT) AS s,
        |        CAST(pg.pos + 4 AS BIGINT) AS e
        |      FROM g WHERE doc_id % 20 <> 0
        |        AND pg.gram IN (SELECT eg FROM ev)),
        |m AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM h),
        |sid AS (SELECT *, CAST(sum(CASE WHEN prev_end IS NULL OR s > prev_end
        |          THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS span_id
        |        FROM m),
        |spans AS (SELECT doc_id, span_id, max(n_tokens) AS n_tokens,
        |            min(s) AS ss, max(e) AS ee
        |          FROM sid GROUP BY doc_id, span_id)
        |SELECT doc_id, max(n_tokens) AS n_tokens, count(*) AS n_spans,
        |  CAST(sum(ee - ss + 1) AS BIGINT) AS covered_tokens,
        |  CAST(sum(ee - ss + 1) * 1000000 // max(n_tokens) AS BIGINT)
        |    AS covered_ppm
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q139: distance-1 and distance-2 pairs; the list-comprehension
    // expansion mirrors the Spark HOF exactly, the top-50 skim uses the
    // same (count desc, w1, w2) total order.
    "q139_skipgrams" ->
      """WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |p AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |        i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS pr FROM d
        |      UNION ALL
        |      SELECT unnest(list_transform(generate_series(1, len(ws) - 2),
        |        i -> {'w1': ws[i], 'w2': ws[i + 2]})) FROM d
        |      WHERE len(ws) >= 3)
        |SELECT pr.w1 AS w1, pr.w2 AS w2, count(*) AS n_pairs
        |FROM p GROUP BY 1, 2
        |ORDER BY n_pairs DESC, w1, w2 LIMIT 50""".stripMargin,

    // q140: KS distance in integer ppm over the n_chars ECDFs of the
    // doc_id parity halves; cumulative walk over the length-histogram
    // frame, report the 10 widest gaps.
    "q140_ks_drift" ->
      """WITH c AS (SELECT n_chars AS len,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb
        |      FROM c),
        |w AS (SELECT len,
        |    CAST(sum(ca) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum_a,
        |    CAST(sum(cb) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum_b
        |  FROM c)
        |SELECT w.len, w.cum_a, w.cum_b,
        |  w.cum_a * 1000000 // t.ta AS f_a_ppm,
        |  w.cum_b * 1000000 // t.tb AS f_b_ppm,
        |  abs(w.cum_a * 1000000 // t.ta - w.cum_b * 1000000 // t.tb) AS gap_ppm
        |FROM w, t
        |ORDER BY gap_ppm DESC, len LIMIT 10""".stripMargin,

    // q141: last-touch attribution — the same (us, event_id)-ordered
    // last-ignore-nulls window on both engines; the 7-day cut applies
    // AFTER the pick on both sides.
    "q141_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |l AS (SELECT *, last_value(CASE WHEN event_type = 'click'
        |          THEN {'cus': us, 'cid': event_id} END IGNORE NULLS)
        |        OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lastc
        |      FROM e)
        |SELECT event_id, user_id,
        |  CASE WHEN lastc IS NOT NULL AND us - lastc.cus <= 604800000000
        |       THEN lastc.cid END AS click_id,
        |  CASE WHEN lastc IS NOT NULL AND us - lastc.cus <= 604800000000
        |       THEN (us - lastc.cus) // 60000000 END AS gap_minutes
        |FROM l WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // q142: the oracle is the BRUTE-FORCE O(n²) set-similarity relation —
    // prefix filtering is exact (the prefix lemma guarantees no misses for
    // J >= t), so the filtered plan must reproduce it identically.
    "q142_prefix_join" ->
      """WITH s AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        |           FROM documents),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter,
        |        CAST(len(a.ws) + len(b.ws)
        |             - len(list_intersect(a.ws, b.ws)) AS BIGINT) AS un
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, inter, un, inter * 1000 // un AS j_ppt
        |FROM p WHERE inter * 1000 // un >= 900
        |ORDER BY doc_a, doc_b""".stripMargin,

    // q143: q133's portable polynomial fingerprint, scaled down by the
    // token weight — identical integer priority on both engines.
    "q143_weighted_sample" ->
      raw"""WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp
        |  FROM documents)
        |SELECT doc_id, n_toks, fp // (n_toks + 1) AS pri
        |FROM d ORDER BY pri, doc_id LIMIT 100""".stripMargin,

    // q144: the oracle recomputes the plan (q89's assignment) and asserts
    // the executed layout matched it everywhere (ok = 1) — a read-back
    // mismatch surfaces as a row the oracle doesn't have.
    "q144_compaction_apply" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(coalesce(length(text), 0) AS BIGINT) AS n_bytes FROM documents),
        |c AS (SELECT *, CAST(sum(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_byte
        |      FROM t)
        |SELECT source, (end_byte - 1) // 262144 AS file_seq,
        |  count(*) AS n_docs,
        |  CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
        |  CAST(1 AS BIGINT) AS ok
        |FROM c GROUP BY source, file_seq ORDER BY source, file_seq""".stripMargin,

    // q145: q77's chunk geometry, distinct-counted WITHIN each document.
    "q145_intra_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, list_transform(generate_series(0, (len(ws) - 1) // 10),
        |        i -> array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' '))
        |        AS cs
        |      FROM d)
        |SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_chunks,
        |  CAST(len(list_distinct(cs)) AS BIGINT) AS n_unique,
        |  CAST((len(cs) - len(list_distinct(cs))) * 1000000 // len(cs)
        |    AS BIGINT) AS rep_ppm
        |FROM c ORDER BY doc_id""".stripMargin,

    // q146: same integer idf/saturation arithmetic — N·1e6 div (df+1)
    // times tf·2e6 div (tf+1), div 1e6 — on both engines; 3 literal terms.
    "q146_bm25_probe" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN list_contains(ws, 'spark') THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(sum(CASE WHEN list_contains(ws, 'merge') THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(sum(CASE WHEN list_contains(ws, 'hash') THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM d),
        |f AS (SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> w = 'spark')) AS BIGINT) AS tf0,
        |    CAST(len(list_filter(ws, w -> w = 'merge')) AS BIGINT) AS tf1,
        |    CAST(len(list_filter(ws, w -> w = 'hash')) AS BIGINT) AS tf2
        |  FROM d)
        |SELECT doc_id,
        |  (CASE WHEN tf0 > 0 THEN (n * 1000000 // (df0 + 1))
        |        * (tf0 * 2000000 // (tf0 + 1)) // 1000000 ELSE 0 END)
        |  + (CASE WHEN tf1 > 0 THEN (n * 1000000 // (df1 + 1))
        |        * (tf1 * 2000000 // (tf1 + 1)) // 1000000 ELSE 0 END)
        |  + (CASE WHEN tf2 > 0 THEN (n * 1000000 // (df2 + 1))
        |        * (tf2 * 2000000 // (tf2 + 1)) // 1000000 ELSE 0 END) AS score,
        |  tf0 AS tf_spark, tf1 AS tf_merge, tf2 AS tf_hash
        |FROM f, s ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // q147: |A ⋈ B| = Σ_k cA(k)·cB(k) — the oracle computes prediction AND
    // actual declaratively per edge; ok must be 1 everywhere.
    "q147_join_size_audit" ->
      """WITH e1 AS (SELECT 'lineitem-orders' AS edge,
        |    (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) FROM
        |      (SELECT l_orderkey AS k, count(*) AS na FROM lineitem
        |       WHERE l_orderkey IS NOT NULL GROUP BY 1) a JOIN
        |      (SELECT o_orderkey AS k, count(*) AS nb FROM orders
        |       WHERE o_orderkey IS NOT NULL GROUP BY 1) b USING (k)) AS predicted_rows,
        |    (SELECT count(*) FROM lineitem l JOIN orders o
        |       ON l.l_orderkey = o.o_orderkey) AS actual_rows),
        |e2 AS (SELECT 'lineitem-part' AS edge,
        |    (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) FROM
        |      (SELECT l_partkey AS k, count(*) AS na FROM lineitem
        |       WHERE l_partkey IS NOT NULL GROUP BY 1) a JOIN
        |      (SELECT p_partkey AS k, count(*) AS nb FROM part
        |       WHERE p_partkey IS NOT NULL GROUP BY 1) b USING (k)) AS predicted_rows,
        |    (SELECT count(*) FROM lineitem l JOIN part p
        |       ON l.l_partkey = p.p_partkey) AS actual_rows),
        |e3 AS (SELECT 'orders-customer' AS edge,
        |    (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) FROM
        |      (SELECT o_custkey AS k, count(*) AS na FROM orders
        |       WHERE o_custkey IS NOT NULL GROUP BY 1) a JOIN
        |      (SELECT c_custkey AS k, count(*) AS nb FROM customer
        |       WHERE c_custkey IS NOT NULL GROUP BY 1) b USING (k)) AS predicted_rows,
        |    (SELECT count(*) FROM orders o JOIN customer c
        |       ON o.o_custkey = c.c_custkey) AS actual_rows)
        |SELECT edge, predicted_rows, actual_rows,
        |  CAST(CASE WHEN predicted_rows = actual_rows THEN 1 ELSE 0 END AS BIGINT) AS ok
        |FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |      UNION ALL SELECT * FROM e3)
        |ORDER BY edge""".stripMargin,

    // q148: rank-formula Gini over ascending (n_chars, doc_id) per source —
    // identical integer arithmetic on both engines.
    "q148_gini_audit" ->
      """WITH r AS (SELECT source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(rk * n_chars) AS BIGINT) AS rank_mass,
        |  CAST((2 * CAST(sum(rk * n_chars) AS BIGINT)
        |        - (count(*) + 1) * CAST(sum(n_chars) AS BIGINT)) * 1000000
        |    // (count(*) * CAST(sum(n_chars) AS BIGINT)) AS BIGINT) AS gini_ppm
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // q149: per-day SUM of q133's portable fingerprint over the rendered
    // row; snapshot b replays the deterministic q102-style damage, so
    // changed = days holding a mutated or deleted event.
    "q149_partition_diff" ->
      raw"""WITH ev AS (SELECT event_id, event_type, value,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |fpa AS (SELECT day, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(
        |      CAST(event_id AS VARCHAR) || ':' || event_type || ':' ||
        |      CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS f
        |    FROM ev),
        |m AS (SELECT event_id, event_type,
        |    CASE WHEN event_id % 1009 = 0 THEN value + 1 ELSE value END AS value,
        |    day FROM ev WHERE event_id % 997 <> 0),
        |fpb AS (SELECT day, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(
        |      CAST(event_id AS VARCHAR) || ':' || event_type || ':' ||
        |      CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS f
        |    FROM m),
        |a AS (SELECT day, count(*) AS n, CAST(sum(f) AS BIGINT) AS s
        |      FROM fpa GROUP BY day),
        |b AS (SELECT day, count(*) AS n, CAST(sum(f) AS BIGINT) AS s
        |      FROM fpb GROUP BY day)
        |SELECT day, coalesce(a.n, 0) AS n_orig, coalesce(b.n, 0) AS n_new,
        |  CAST(CASE WHEN a.n IS NOT DISTINCT FROM b.n
        |       AND a.s IS NOT DISTINCT FROM b.s THEN 0 ELSE 1 END AS BIGINT)
        |    AS changed
        |FROM a FULL JOIN b USING (day) ORDER BY day""".stripMargin,

    // q150: the same three-level cascade — failing groups merge upward,
    // counts carried by sum; suppression only below k at the top level.
    "q150_kanon_repair" ->
      """WITH r AS (SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
        |    c.c_mktsegment AS segment, CAST(n.n_regionkey AS BIGINT) AS regionkey
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |g0 AS (SELECT nationkey, segment, regionkey, count(*) AS n
        |       FROM r GROUP BY 1, 2, 3),
        |p0 AS (SELECT CAST(0 AS BIGINT) AS level,
        |    'n' || CAST(nationkey AS VARCHAR) || '/' || segment AS qi_group,
        |    CAST(n AS BIGINT) AS n_members FROM g0 WHERE n >= 5),
        |g1 AS (SELECT regionkey, segment, CAST(sum(n) AS BIGINT) AS n
        |       FROM g0 WHERE n < 5 GROUP BY 1, 2),
        |p1 AS (SELECT CAST(1 AS BIGINT),
        |    'r' || CAST(regionkey AS VARCHAR) || '/' || segment, n
        |  FROM g1 WHERE n >= 5),
        |g2 AS (SELECT segment, CAST(sum(n) AS BIGINT) AS n
        |       FROM g1 WHERE n < 5 GROUP BY 1),
        |p2 AS (SELECT CAST(2 AS BIGINT), segment, n FROM g2 WHERE n >= 5),
        |p3 AS (SELECT CAST(3 AS BIGINT), 'suppressed/' || segment, n
        |       FROM g2 WHERE n < 5)
        |SELECT * FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1
        |  UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
        |ORDER BY level, qi_group""".stripMargin,

    // q151: X41's floor-sqrt weights vs current token share; factors and
    // planned counts in integer ppm.
    "q151_rebalance_plan" ->
      """WITH l AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
        |    CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w_sqrt FROM l),
        |t AS (SELECT CAST(sum(w_sqrt) AS BIGINT) AS sw,
        |    CAST(sum(n_tokens) AS BIGINT) AS st FROM w),
        |p AS (SELECT lang, n_docs, n_tokens,
        |    n_tokens * 1000000 // t.st AS share_ppm,
        |    w_sqrt * 1000000 // t.sw AS target_ppm
        |  FROM w, t)
        |SELECT lang, n_docs, n_tokens, share_ppm, target_ppm,
        |  target_ppm * 1000000 // greatest(share_ppm, 1) AS factor_ppm,
        |  n_docs * (target_ppm * 1000000 // greatest(share_ppm, 1)) // 1000000
        |    AS planned_docs
        |FROM p ORDER BY lang""".stripMargin,

    // q152: q61's fingerprint priority, ranked within each language.
    "q152_group_sample" ->
      raw"""WITH d AS (SELECT lang, doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS pri
        |  FROM documents),
        |r AS (SELECT lang, doc_id, pri,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id)
        |      AS BIGINT) AS rk
        |  FROM d)
        |SELECT lang, rk, doc_id, pri FROM r WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin,

    // q153: first/last via arg_min/arg_max over the [us, event_id] order —
    // DuckDB's list compare mirrors Spark's struct compare.
    "q153_net_effect" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
        |         ELSE 'U' END AS op
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_i,
        |  CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_u,
        |  CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_d,
        |  arg_min(op, CAST(us AS HUGEINT) * 1000000 + event_id) AS first_op,
        |  arg_max(op, CAST(us AS HUGEINT) * 1000000 + event_id) AS last_op,
        |  CASE WHEN arg_max(op, CAST(us AS HUGEINT) * 1000000 + event_id) = 'D'
        |       THEN 'absent' ELSE 'present' END AS net_state
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q154: q74's exact gate definitions as cumulative stages; four
    // conditional sums from one pass.
    "q154_curation_funnel" ->
      raw"""WITH f AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp,
        |    min(doc_id) OVER (PARTITION BY coalesce(md5(text),
        |      'null:' || CAST(doc_id AS VARCHAR))) AS keep_id
        |  FROM documents),
        |g AS (SELECT *, (doc_id = keep_id) AS s1,
        |    (doc_id = keep_id AND n_words BETWEEN 20 AND 500) AS s2,
        |    (doc_id = keep_id AND n_words BETWEEN 20 AND 500
        |     AND fp % 10 < 8) AS s3
        |  FROM f),
        |a AS (SELECT count(*) AS d0, CAST(sum(n_words) AS BIGINT) AS t0,
        |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN s1 THEN n_words ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN s2 THEN n_words ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |    CAST(sum(CASE WHEN s3 THEN n_words ELSE 0 END) AS BIGINT) AS t3
        |  FROM g)
        |SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
        |  d0 AS n_docs, t0 AS n_tokens FROM a
        |UNION ALL SELECT 1, 'exact_dedup', d1, t1 FROM a
        |UNION ALL SELECT 2, 'quality', d2, t2 FROM a
        |UNION ALL SELECT 3, 'sampled', d3, t3 FROM a
        |ORDER BY stage""".stripMargin,

    "q155_luhn_audit" ->
      """WITH p AS (SELECT doc_id,
        |    lpad(CAST((doc_id * 1000003 + 777) % 1000000000000000 AS VARCHAR),
        |         15, '0') AS pan15,
        |    coalesce(text, '') AS t0
        |  FROM documents),
        |s AS (SELECT doc_id, pan15, t0,
        |    CAST(list_sum(list_transform(range(1, 16), j ->
        |      CASE WHEN j % 2 = 1
        |        THEN CASE WHEN 2 * CAST(substring(reverse(pan15), j, 1) AS BIGINT) > 9
        |               THEN 2 * CAST(substring(reverse(pan15), j, 1) AS BIGINT) - 9
        |               ELSE 2 * CAST(substring(reverse(pan15), j, 1) AS BIGINT) END
        |        ELSE CAST(substring(reverse(pan15), j, 1) AS BIGINT) END))
        |      AS BIGINT) AS luhn_s
        |  FROM p),
        |t AS (SELECT doc_id,
        |    t0 || ' card ' || pan15 ||
        |      CAST(CASE WHEN doc_id % 3 = 0 THEN (10 - luhn_s % 10) % 10
        |                ELSE ((10 - luhn_s % 10) % 10 + 5) % 10 END AS VARCHAR)
        |      || ' end' AS t2
        |  FROM s),
        |d AS (SELECT doc_id,
        |    regexp_extract_all(t2, '[0-9]{13,19}') AS cands FROM t),
        |v AS (SELECT doc_id,
        |    CAST(len(cands) AS BIGINT) AS n_candidates,
        |    CAST(len(list_filter(cands, c ->
        |      CAST(list_sum(list_transform(range(1, length(c) + 1), j ->
        |        CASE WHEN j % 2 = 0
        |          THEN CASE WHEN 2 * CAST(substring(reverse(c), j, 1) AS BIGINT) > 9
        |                 THEN 2 * CAST(substring(reverse(c), j, 1) AS BIGINT) - 9
        |                 ELSE 2 * CAST(substring(reverse(c), j, 1) AS BIGINT) END
        |          ELSE CAST(substring(reverse(c), j, 1) AS BIGINT) END))
        |        AS BIGINT) % 10 = 0)) AS BIGINT) AS n_valid
        |  FROM d)
        |SELECT doc_id, n_candidates, n_valid,
        |  CAST(CASE WHEN n_valid > 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS has_valid_card
        |FROM v ORDER BY doc_id""".stripMargin,

    "q156_url_domains" ->
      """WITH p AS (SELECT doc_id,
        |    coalesce(text, '') || ' see https://site'
        |      || CAST((((doc_id % 40 + 40) % 40) * 2654435761) % 40 AS VARCHAR)
        |      || '.example.org/p/' || CAST(doc_id % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN ' and http://m'
        |             || CAST((((doc_id % 40 + 40) % 40) * 2654435761) % 40 AS VARCHAR)
        |             || '.example.net/q'
        |           ELSE '' END
        |      || ' ok' AS t2
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    unnest(regexp_extract_all(t2, 'https?://([A-Za-z0-9.-]+)', 1))
        |      AS domain
        |  FROM p),
        |g AS (SELECT domain, count(*) AS n_hits,
        |    count(DISTINCT doc_id) AS n_docs
        |  FROM h GROUP BY domain),
        |tot AS (SELECT count(*) AS total_hits FROM h)
        |SELECT domain, n_hits, n_docs,
        |  n_hits * 1000000 // total_hits AS share_ppm
        |FROM g, tot ORDER BY n_hits DESC, domain""".stripMargin,

    "q157_vocab_coverage" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |c AS (SELECT w, count(*) AS n FROM w GROUP BY w),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rk FROM c),
        |a AS (SELECT count(*) AS n_types, CAST(sum(n) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS BIGINT) AS c10,
        |    CAST(sum(CASE WHEN rk <= 100 THEN n ELSE 0 END) AS BIGINT) AS c100,
        |    CAST(sum(CASE WHEN rk <= 1000 THEN n ELSE 0 END) AS BIGINT) AS c1000,
        |    CAST(sum(CASE WHEN rk <= 10000 THEN n ELSE 0 END) AS BIGINT) AS c10000
        |  FROM r)
        |SELECT CAST(10 AS BIGINT) AS k, n_types, n_tokens,
        |  c10 AS covered_tokens, c10 * 1000000 // n_tokens AS coverage_ppm FROM a
        |UNION ALL SELECT 100, n_types, n_tokens,
        |  c100, c100 * 1000000 // n_tokens FROM a
        |UNION ALL SELECT 1000, n_types, n_tokens,
        |  c1000, c1000 * 1000000 // n_tokens FROM a
        |UNION ALL SELECT 10000, n_types, n_tokens,
        |  c10000, c10000 * 1000000 // n_tokens FROM a
        |ORDER BY k""".stripMargin,

    "q158_encoding_audit" ->
      """WITH p AS (SELECT doc_id, source,
        |    coalesce(text, '')
        |      || CASE WHEN doc_id % 11 = 0
        |           THEN ' caf' || chr(195) || chr(169) ELSE '' END
        |      || CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END
        |      || CASE WHEN doc_id % 17 = 0 THEN chr(65533) ELSE '' END AS t2
        |  FROM documents),
        |m AS (SELECT source,
        |    CAST(len(regexp_extract_all(t2,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS c_ctrl,
        |    CAST(len(regexp_extract_all(t2, chr(195) || '.')) AS BIGINT)
        |      AS c_moji,
        |    CAST(length(t2) - length(replace(t2, chr(65533), '')) AS BIGINT)
        |      AS c_repl
        |  FROM p)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_ctrl,
        |  CAST(sum(CASE WHEN c_moji > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_moji,
        |  CAST(sum(CASE WHEN c_repl > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_repl,
        |  CAST(sum(CASE WHEN c_ctrl = 0 AND c_moji = 0 AND c_repl = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_clean,
        |  CAST(sum(c_ctrl) AS BIGINT) AS n_ctrl,
        |  CAST(sum(c_moji) AS BIGINT) AS n_moji,
        |  CAST(sum(c_repl) AS BIGINT) AS n_repl,
        |  CAST(sum(CASE WHEN c_ctrl = 0 AND c_moji = 0 AND c_repl = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS clean_ppm
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // Blocked ⟺ the planted domain id ≡ 3 (mod 10): both of a document's
    // planted domains share one id, and the blocklist holds both families
    // for ids 3/13/23/33 — the rule replay is exact, not approximate.
    "q159_blocklist_filter" ->
      """WITH f AS (SELECT source,
        |    CASE WHEN ((((doc_id % 40 + 40) % 40) * 2654435761) % 40) % 10 = 3
        |      THEN 1 ELSE 0 END AS blocked
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(1 - blocked) AS BIGINT) AS kept_docs,
        |  CAST(sum(blocked) AS BIGINT) AS blocked_docs,
        |  CAST(sum(blocked) AS BIGINT) * 1000000 // count(*) AS blocked_ppm
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "q160_length_pair" ->
      raw"""WITH d AS (SELECT doc_id, lang, n_chars,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) % 10 = 9 AS is_eval,
        |    n_chars * 1000000000000 + doc_id AS k
        |  FROM documents),
        |e AS (SELECT * FROM d WHERE is_eval),
        |t AS (SELECT * FROM d WHERE NOT is_eval)
        |SELECT e.lang, e.doc_id, e.n_chars,
        |  t.doc_id AS pair_doc_id, t.n_chars AS pair_chars,
        |  e.n_chars - t.n_chars AS char_gap
        |FROM e ASOF LEFT JOIN t
        |  ON e.lang = t.lang AND e.k > t.k
        |ORDER BY e.lang, e.doc_id""".stripMargin,

    "q161_forget_audit" ->
      raw"""WITH d AS (SELECT doc_id, lang,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp,
        |    CASE WHEN doc_id % 19 = 0 THEN 1 ELSE 0 END AS del
        |  FROM documents)
        |SELECT lang, count(*) AS before_docs,
        |  CAST(sum(1 - del) AS BIGINT) AS after_docs,
        |  CAST(sum(del) AS BIGINT) AS deleted_docs,
        |  CAST(0 AS BIGINT) AS residual,
        |  CAST(sum(CASE WHEN del = 1 THEN fp ELSE 0 END) AS BIGINT)
        |    AS deleted_fpsum
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q162_feature_hashing" ->
      raw"""WITH cat AS (SELECT n_name || '|' || c_mktsegment AS category
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |h AS (SELECT category,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(category, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) % 64 AS bucket
        |  FROM cat),
        |g AS (SELECT bucket, category, count(*) AS n
        |  FROM h GROUP BY bucket, category)
        |SELECT bucket, count(*) AS n_categories,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(CASE WHEN count(*) > 1 THEN 1 ELSE 0 END AS BIGINT)
        |    AS collided
        |FROM g GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Sorted-neighbor LCP, bounded at 64 chars: first mismatch j in 1..m
    // → LCP = j-1, all equal → m. The m = 0 guard covers the first row
    // of each language partition and empty texts.
    "q163_prefix_boilerplate" ->
      """WITH d AS (SELECT doc_id, lang, coalesce(text, '') AS text
        |  FROM documents),
        |l AS (SELECT doc_id, lang, text,
        |    lag(text) OVER (PARTITION BY lang ORDER BY text, doc_id)
        |      AS prev_text
        |  FROM d),
        |m AS (SELECT lang,
        |    CASE WHEN prev_text IS NULL THEN 0
        |         ELSE least(64, length(text), length(prev_text)) END AS m,
        |    text, prev_text FROM l),
        |c AS (SELECT lang,
        |    CASE WHEN m = 0 THEN 0
        |         ELSE least(m, list_min(list_transform(range(1, m + 1), j ->
        |           CASE WHEN substring(text, j, 1) = substring(prev_text, j, 1)
        |                THEN m + 1 ELSE j END)) - 1) END AS lcp
        |  FROM m)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(max(lcp) AS BIGINT) AS max_lcp,
        |  CAST(sum(lcp) AS BIGINT) AS sum_lcp,
        |  CAST(sum(CASE WHEN lcp >= 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS boiler_docs,
        |  CAST(sum(CASE WHEN lcp >= 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS boiler_ppm
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    "q164_degree_histogram" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |e AS (SELECT a.pk AS p1, b.pk AS p2
        |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT pk, count(*) AS d FROM (
        |    SELECT p1 AS pk FROM e UNION ALL SELECT p2 FROM e)
        |  GROUP BY pk)
        |SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS band,
        |  count(*) AS n_parts,
        |  CAST(min(d) AS BIGINT) AS min_degree,
        |  CAST(max(d) AS BIGINT) AS max_degree,
        |  CAST(sum(d) AS BIGINT) AS sum_degree
        |FROM deg GROUP BY band ORDER BY band""".stripMargin,

    "q165_burstiness" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, count(*) AS n_hours,
        |    CAST(sum(c) AS BIGINT) AS n_events,
        |    CAST(sum(c * c) AS BIGINT) AS sum_sq
        |  FROM h GROUP BY 1)
        |SELECT event_type, n_hours, n_events,
        |  (n_hours * sum_sq - n_events * n_events) * 1000000
        |    // (n_hours * n_events) AS fano_ppm
        |FROM a ORDER BY event_type""".stripMargin,

    "q166_dataset_card" ->
      """WITH d AS (SELECT source, lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS uniq_words,
        |    min(doc_id) OVER (PARTITION BY
        |      coalesce(md5(text), 'null:' || CAST(doc_id AS VARCHAR)))
        |      AS keep_id
        |  FROM documents)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_docs,
        |  CAST(sum(uniq_words * 1000 // n_words) AS BIGINT)
        |    AS sum_quality_millis,
        |  CAST(sum(CASE WHEN n_words < 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS short_docs,
        |  CAST(sum(CASE WHEN n_words > 500 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS long_docs,
        |  CAST(sum(uniq_words * 1000 // n_words) AS BIGINT) // count(*)
        |    AS mean_quality_millis
        |FROM d GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    "q167_mad_lengths" ->
      """WITH h AS (SELECT lang, n_chars, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cm AS (SELECT lang, n_chars, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cumc,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h),
        |med AS (SELECT lang, min(n_chars) AS median_chars, max(n) AS n
        |  FROM cm WHERE cumc * 2 >= n GROUP BY lang),
        |hd AS (SELECT h.lang, abs(h.n_chars - m.median_chars) AS dev,
        |    m.n AS n, sum(h.c) AS c
        |  FROM h JOIN med m USING (lang) GROUP BY 1, 2, 3),
        |cmd AS (SELECT lang, dev, c, n,
        |    sum(c) OVER (PARTITION BY lang ORDER BY dev) AS cumc
        |  FROM hd),
        |mad AS (SELECT lang, min(dev) AS mad_chars
        |  FROM cmd WHERE cumc * 2 >= n GROUP BY lang),
        |outl AS (SELECT hd.lang, CAST(sum(hd.c) AS BIGINT) AS n_out
        |  FROM hd JOIN mad USING (lang)
        |  WHERE hd.dev > mad.mad_chars * 3 GROUP BY hd.lang)
        |SELECT m.lang, CAST(m.n AS BIGINT) AS n_docs,
        |  m.median_chars, mad.mad_chars,
        |  CAST(coalesce(outl.n_out, 0) AS BIGINT) AS n_outliers
        |FROM med m JOIN mad USING (lang)
        |LEFT JOIN outl USING (lang)
        |ORDER BY m.lang""".stripMargin,

    "q168_weekly_churn" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |nx AS (SELECT user_id, week,
        |    lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
        |  FROM uw),
        |hz AS (SELECT max(week) AS max_week FROM uw)
        |SELECT week, count(*) AS n_active,
        |  CAST(sum(CASE WHEN week < max_week
        |    AND (next_week IS NULL OR next_week > week + 1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        |  CAST(sum(CASE WHEN week < max_week
        |    AND (next_week IS NULL OR next_week > week + 1)
        |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS churn_ppm
        |FROM nx, hz GROUP BY week ORDER BY week""".stripMargin,

    "q169_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_3', 'NATION_19')
        |  AND cn.n_name IN ('NATION_3', 'NATION_19')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q170_market_share" ->
      """WITH v AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    sn.n_name AS supp_nation,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |      AS vol_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA')
        |SELECT o_year, CAST(sum(vol_cents) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_cents
        |    ELSE 0 END) AS BIGINT) AS nation_cents,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_cents
        |    ELSE 0 END) AS BIGINT) * 1000000
        |    // CAST(sum(vol_cents) AS BIGINT) AS share_ppm
        |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q171_product_margin" ->
      """SELECT sn.n_name AS supp_nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(sum(CAST(round(l_quantity * p_retailprice * 100) AS BIGINT))
        |    AS BIGINT) AS cost_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT)
        |    - CAST(sum(CAST(round(l_quantity * p_retailprice * 100)
        |    AS BIGINT)) AS BIGINT) AS margin_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q172_local_supplier" ->
      """SELECT n_name, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin,

    "q173_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  count(*) AS n_returned_lines,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS lost_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_cents DESC, c_custkey LIMIT 20""".stripMargin,

    "q174_custdist" ->
      """WITH cc AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM cc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q175_large_volume" ->
      """WITH big AS (SELECT l_orderkey,
        |    CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(l_quantity) AS BIGINT) > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey""".stripMargin,

    "q176_temporal_split" ->
      """WITH tr AS (SELECT DISTINCT user_id FROM events
        |  WHERE ts < TIMESTAMP '2024-01-24'),
        |te AS (SELECT e.event_type, e.user_id,
        |    CASE WHEN tr.user_id IS NULL THEN 1 ELSE 0 END AS cold
        |  FROM events e LEFT JOIN tr ON e.user_id = tr.user_id
        |  WHERE e.ts >= TIMESTAMP '2024-01-24')
        |SELECT event_type, count(*) AS n_test_events,
        |  CAST(sum(cold) AS BIGINT) AS cold_events,
        |  count(DISTINCT user_id) AS n_test_users,
        |  count(DISTINCT CASE WHEN cold = 1 THEN user_id END) AS cold_users,
        |  CAST(sum(cold) AS BIGINT) * 1000000 // count(*) AS cold_ppm
        |FROM te GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Recall of the q56 single-probe IVF against the exact top-3 over the
    // same corpus universe (vec_id >= 18) for the same query batch
    // (8 <= vec_id < 18): both legs replay the established pipelines.
    "q177_ivf_recall" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm2
        |      FROM e WHERE list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) > 0),
        |c AS (SELECT vec_id AS c_id, v AS cv, nrm2 AS cn FROM n WHERE vec_id < 8),
        |ac AS (SELECT n.vec_id, c.c_id, n.v, n.nrm2,
        |        list_reduce(list_transform(generate_series(1, len(n.v)), i -> n.v[i] * c.cv[i]),
        |                    (x, y) -> x + y) / (sqrt(n.nrm2) * sqrt(c.cn)) AS c_cos
        |      FROM n CROSS JOIN c),
        |asg AS (SELECT vec_id, c_id AS cluster, v, nrm2 FROM (
        |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS ark
        |        FROM ac) WHERE ark = 1),
        |corpus AS (SELECT * FROM asg WHERE vec_id >= 18),
        |queries AS (SELECT vec_id AS q_id, cluster, v AS qv, nrm2 AS qn
        |            FROM asg WHERE vec_id >= 8 AND vec_id < 18),
        |ivf AS (SELECT q_id, vec_id AS neighbor_id FROM (
        |        SELECT q.q_id, co.vec_id,
        |          row_number() OVER (PARTITION BY q.q_id ORDER BY
        |            list_reduce(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * co.v[i]),
        |                        (x, y) -> x + y) / (sqrt(q.qn) * sqrt(co.nrm2)) DESC,
        |            co.vec_id) AS rk
        |        FROM corpus co JOIN queries q USING (cluster)) WHERE rk <= 3),
        |truth AS (SELECT q_id, vec_id AS neighbor_id FROM (
        |        SELECT q.q_id, co.vec_id,
        |          row_number() OVER (PARTITION BY q.q_id ORDER BY
        |            list_reduce(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * co.v[i]),
        |                        (x, y) -> x + y) / (sqrt(q.qn) * sqrt(co.nrm2)) DESC,
        |            co.vec_id) AS rk
        |        FROM (SELECT * FROM asg WHERE vec_id >= 18) co
        |        CROSS JOIN queries q) WHERE rk <= 3)
        |SELECT t.q_id, CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
        |  CAST(count(i.neighbor_id) AS BIGINT) * 1000000 // count(*)
        |    AS recall_ppm
        |FROM truth t LEFT JOIN ivf i
        |  ON t.q_id = i.q_id AND t.neighbor_id = i.neighbor_id
        |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin,

    "q178_split_leakage" ->
      raw"""WITH d AS (SELECT doc_id, lang, md5(coalesce(text, '')) AS h,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) % 10 = 9 AS is_eval
        |  FROM documents),
        |tr AS (SELECT DISTINCT h FROM d WHERE NOT is_eval)
        |SELECT lang, count(*) AS n_eval,
        |  CAST(sum(CASE WHEN tr.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_leaked,
        |  CAST(sum(CASE WHEN tr.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    * 1000000 // count(*) AS leak_ppm
        |FROM (SELECT * FROM d WHERE is_eval) e
        |LEFT JOIN tr ON e.h = tr.h
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q179_promo_effect" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT) ELSE 0 END) AS BIGINT) * 1000000
        |    // CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS promo_ppm
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q180_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1995-04-01'
        |  GROUP BY l_suppkey),
        |mx AS (SELECT max(total_cents) AS max_cents FROM rev)
        |SELECT s_suppkey, s_name, total_cents
        |FROM rev
        |JOIN supplier ON l_suppkey = s_suppkey
        |CROSS JOIN mx
        |WHERE total_cents = max_cents
        |ORDER BY s_suppkey""".stripMargin,

    "q181_small_qty" ->
      """WITH li AS (SELECT p_brand, l_partkey,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'),
        |a AS (SELECT l_partkey AS pk, count(*) AS n,
        |    CAST(sum(qty) AS BIGINT) AS sum_qty
        |  FROM li GROUP BY l_partkey)
        |SELECT p_brand, count(*) AS n_small_lines,
        |  CAST(sum(price_cents) AS BIGINT) AS locked_cents
        |FROM li JOIN a ON l_partkey = pk
        |WHERE qty * n * 2 < sum_qty
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q182_spearman" ->
      """WITH base AS (SELECT c_custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |    coalesce(sp.spend_cents, 0) AS spend_cents
        |  FROM customer LEFT JOIN (
        |    SELECT o_custkey,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |        AS spend_cents
        |    FROM orders GROUP BY o_custkey) sp ON c_custkey = o_custkey),
        |r AS (SELECT
        |    row_number() OVER (ORDER BY bal_cents, c_custkey) AS r_bal,
        |    row_number() OVER (ORDER BY spend_cents, c_custkey) AS r_spend
        |  FROM base)
        |SELECT count(*) AS n,
        |  CAST(sum((r_bal - r_spend) * (r_bal - r_spend)) AS BIGINT)
        |    AS sum_d2,
        |  6 * CAST(sum((r_bal - r_spend) * (r_bal - r_spend)) AS BIGINT)
        |    * 1000 // (count(*) * (count(*) * count(*) - 1))
        |    AS discordance_millis
        |FROM r""".stripMargin,

    "q183_copy_matrix" ->
      """WITH inc AS (SELECT DISTINCT md5(
        |    CASE WHEN doc_id % 23 = 0
        |      THEN 'canonical template block ' || CAST(doc_id % 7 AS VARCHAR)
        |      ELSE coalesce(text, '') END) AS h, source
        |  FROM documents),
        |sz AS (SELECT source, count(*) AS n FROM inc GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_shared
        |  FROM inc a JOIN inc b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_shared,
        |  n_shared * 1000000 // (sa.n + sb.n - n_shared) AS jaccard_ppm
        |FROM p
        |JOIN sz sa ON p.source_a = sa.source
        |JOIN sz sb ON p.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,

    // 8-bit PCM stand-in: ASCII text bytes as samples; 256-sample windows
    // at hop 128; energy = Σ (s-128)² per window; argmax tie → first.
    // Non-ASCII documents are excluded on BOTH sides (code points ≠ UTF-8
    // bytes beyond 7 bits).
    "q184_audio_windows" ->
      """WITH d AS (SELECT doc_id, list_transform(
        |    string_split(coalesce(text, ''), ''),
        |    c -> CAST(ascii(c) AS BIGINT)) AS smp
        |  FROM documents
        |  WHERE NOT regexp_matches(coalesce(text, ''), '[^\x00-\x7f]')),
        |w AS (SELECT doc_id, len(smp) AS n,
        |    CASE WHEN len(smp) < 256 THEN 0
        |         ELSE (len(smp) - 256) // 128 + 1 END AS nw, smp
        |  FROM d),
        |e AS (SELECT doc_id, n, nw,
        |    list_transform(range(0, nw), j -> CAST(
        |      list_sum(list_transform(range(1 + j*128, 257 + j*128),
        |        i -> (smp[i] - 128) * (smp[i] - 128))) AS BIGINT)) AS es
        |  FROM w)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(nw AS BIGINT) AS n_windows,
        |  CAST(coalesce(list_max(es), 0) AS BIGINT) AS max_energy,
        |  CAST(CASE WHEN nw = 0 THEN -1
        |    ELSE list_position(es, list_max(es)) - 1 END AS BIGINT)
        |    AS max_energy_win,
        |  CAST(CASE WHEN nw = 0 THEN 0
        |    ELSE CAST(list_sum(es) AS BIGINT) // nw END AS BIGINT)
        |    AS mean_energy,
        |  CAST(len(list_filter(es, x -> x < 25600)) AS BIGINT) AS n_silent
        |FROM e ORDER BY doc_id""".stripMargin,

    // 64-byte frame chunks fingerprinted with the portable hash; the
    // final frame may be short (substring tail), matching Spark exactly.
    "q185_frame_dedup" ->
      raw"""WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents
        |  WHERE length(coalesce(text, '')) >= 1),
        |f AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_bytes,
        |    list_transform(range(0, (length(t) + 63) // 64), j ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(substring(t, j * 64 + 1, 64), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold)) AS fps
        |  FROM d)
        |SELECT doc_id, n_bytes,
        |  CAST(len(fps) AS BIGINT) AS n_frames,
        |  CAST(len(list_distinct(fps)) AS BIGINT) AS n_distinct,
        |  (CAST(len(fps) AS BIGINT) - CAST(len(list_distinct(fps)) AS BIGINT))
        |    * 1000000 // CAST(len(fps) AS BIGINT) AS dup_ppm
        |FROM f ORDER BY doc_id""".stripMargin,

    "q186_compressibility" ->
      """WITH d AS (SELECT source,
        |    CAST(length(text) - 3 AS BIGINT) AS n_grams,
        |    CAST(len(list_distinct(list_transform(
        |      range(1, length(text) - 2),
        |      i -> substring(text, i, 4)))) AS BIGINT) AS n_distinct
        |  FROM documents WHERE length(coalesce(text, '')) >= 4),
        |p AS (SELECT source, n_grams, n_distinct,
        |    n_distinct * 1000000 // n_grams AS distinct_ppm FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
        |  CAST(sum(n_distinct) AS BIGINT) AS n_distinct,
        |  CAST(min(distinct_ppm) AS BIGINT) AS min_ppm,
        |  CAST(max(distinct_ppm) AS BIGINT) AS max_ppm,
        |  CAST(sum(distinct_ppm) AS BIGINT) AS sum_ppm,
        |  CAST(sum(distinct_ppm) AS BIGINT) // count(*) AS mean_ppm
        |FROM p GROUP BY source ORDER BY source""".stripMargin,

    "q187_funnel_rates" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS click_us FROM e
        |      JOIN v ON e.user_id = v.user_id AND e.us >= v.view_us
        |      WHERE event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e
        |      JOIN c ON e.user_id = c.user_id AND e.us >= c.click_us
        |      WHERE event_type = 'purchase' GROUP BY e.user_id),
        |a AS (SELECT
        |    (SELECT count(DISTINCT user_id) FROM e) AS u0,
        |    (SELECT count(*) FROM v) AS u1,
        |    (SELECT count(*) FROM c) AS u2,
        |    (SELECT count(*) FROM p) AS u3)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step,
        |  CAST(u1 AS BIGINT) AS n_users,
        |  CAST(u1 AS BIGINT) * 1000000 // u0 AS step_ppm,
        |  CAST(u1 AS BIGINT) * 1000000 // u0 AS cum_ppm FROM a
        |UNION ALL SELECT 2, 'click', u2,
        |  CASE WHEN u1 = 0 THEN 0 ELSE u2 * 1000000 // u1 END,
        |  u2 * 1000000 // u0 FROM a
        |UNION ALL SELECT 3, 'purchase', u3,
        |  CASE WHEN u2 = 0 THEN 0 ELSE u3 * 1000000 // u2 END,
        |  u3 * 1000000 // u0 FROM a
        |ORDER BY stage""".stripMargin,

    "q188_two_hop" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |e AS (SELECT a.pk AS p1, b.pk AS p2
        |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT p1, p2 FROM e UNION ALL SELECT p2, p1 FROM e),
        |deg AS (SELECT p1 AS node, count(*) AS degree FROM adj GROUP BY p1),
        |wedge AS (SELECT DISTINCT x.p1 AS a, y.p2 AS c
        |  FROM adj x JOIN adj y ON x.p2 = y.p1
        |  WHERE x.p1 <> y.p2),
        |two AS (SELECT a, count(*) AS n_two_hop FROM wedge w
        |  WHERE NOT EXISTS (SELECT 1 FROM adj
        |    WHERE adj.p1 = w.a AND adj.p2 = w.c)
        |  GROUP BY a)
        |SELECT a AS part_key, degree, n_two_hop
        |FROM two JOIN deg ON a = node
        |ORDER BY n_two_hop DESC, part_key LIMIT 20""".stripMargin,

    // q189: Σ copies arithmetic replays the explode — achieved_docs is the
    // copy count, achieved_tokens weights by per-doc token counts; copies =
    // factor div 1e6 + the deterministic fractional Bernoulli on the
    // fingerprint.
    "q189_rebalance_apply" ->
      raw"""WITH l AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_tokens,
        |    CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w_sqrt FROM l),
        |t AS (SELECT CAST(sum(w_sqrt) AS BIGINT) AS sw,
        |    CAST(sum(n_tokens) AS BIGINT) AS st FROM w),
        |f AS (SELECT lang,
        |    w_sqrt * 1000000 // t.sw AS target_ppm,
        |    (w_sqrt * 1000000 // t.sw) * 1000000
        |      // greatest(n_tokens * 1000000 // t.st, 1) AS factor_ppm
        |  FROM w, t),
        |d AS (SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp
        |  FROM documents),
        |c AS (SELECT d.lang, f.target_ppm, d.n_toks,
        |    f.factor_ppm // 1000000 +
        |      CASE WHEN d.fp % 1000000 < f.factor_ppm % 1000000
        |           THEN 1 ELSE 0 END AS copies
        |  FROM d JOIN f ON d.lang = f.lang),
        |g AS (SELECT lang, max(target_ppm) AS target_ppm,
        |    CAST(sum(copies) AS BIGINT) AS achieved_docs,
        |    CAST(sum(copies * n_toks) AS BIGINT) AS achieved_tokens
        |  FROM c GROUP BY lang
        |  HAVING sum(copies) > 0),
        |tt AS (SELECT CAST(sum(achieved_tokens) AS BIGINT) AS total FROM g)
        |SELECT lang, achieved_docs, achieved_tokens,
        |  achieved_tokens * 1000000 // tt.total AS achieved_ppm,
        |  target_ppm,
        |  abs(achieved_tokens * 1000000 // tt.total - target_ppm)
        |    AS delta_ppm
        |FROM g, tt ORDER BY lang""".stripMargin,

    // q190: the q50 cluster pipeline (minhash -> bands -> candidates ->
    // connected components) summarized into a log2 size histogram.
    "q190_cluster_sizes" ->
      raw"""WITH RECURSIVE docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
        |hs AS (SELECT doc_id, list_transform(shingles,
        |         s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                          $FpByteFold)) AS h FROM sh),
        |sig AS (SELECT doc_id, [
        |  list_min(list_transform(h, x -> (3 * x + 1) % 1000000007)),
        |  list_min(list_transform(h, x -> (7 * x + 5) % 1000000007)),
        |  list_min(list_transform(h, x -> (11 * x + 13) % 1000000007)),
        |  list_min(list_transform(h, x -> (17 * x + 29) % 1000000007)),
        |  list_min(list_transform(h, x -> (23 * x + 37) % 1000000007)),
        |  list_min(list_transform(h, x -> (31 * x + 43) % 1000000007)),
        |  list_min(list_transform(h, x -> (41 * x + 53) % 1000000007)),
        |  list_min(list_transform(h, x -> (47 * x + 61) % 1000000007)),
        |  list_min(list_transform(h, x -> (59 * x + 71) % 1000000007)),
        |  list_min(list_transform(h, x -> (67 * x + 79) % 1000000007)),
        |  list_min(list_transform(h, x -> (73 * x + 89) % 1000000007)),
        |  list_min(list_transform(h, x -> (83 * x + 101) % 1000000007))] AS sig FROM hs),
        |bands AS (SELECT doc_id, i AS band_idx,
        |    CAST(sig[3*i + 1] AS VARCHAR) || ':' || CAST(sig[3*i + 2] AS VARCHAR)
        |      || ':' || CAST(sig[3*i + 3] AS VARCHAR) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
        |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM cands JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |  WHERE len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) >= 6),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
        |reach AS (
        |  SELECT doc_id, doc_id AS label FROM nodes
        |  UNION
        |  SELECT e.a AS doc_id, r.label FROM edges e JOIN reach r ON r.doc_id = e.b),
        |lab AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS canonical_id
        |        FROM reach GROUP BY doc_id),
        |sz AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM lab GROUP BY canonical_id)
        |SELECT CAST(length(bin(cluster_size)) - 1 AS BIGINT) AS band,
        |  count(*) AS n_clusters,
        |  CAST(sum(cluster_size) AS BIGINT) AS n_docs,
        |  CAST(min(cluster_size) AS BIGINT) AS min_size,
        |  CAST(max(cluster_size) AS BIGINT) AS max_size
        |FROM sz GROUP BY band ORDER BY band""".stripMargin,

    "q191_vocab_drift" ->
      """WITH w AS (SELECT lang, doc_id % 2 = 1 AS second,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |va AS (SELECT DISTINCT lang, w FROM w WHERE NOT second),
        |bt AS (SELECT lang, w, count(*) AS n FROM w WHERE second
        |       GROUP BY lang, w),
        |novel AS (SELECT bt.lang, count(*) AS new_types,
        |    CAST(sum(bt.n) AS BIGINT) AS new_tokens
        |  FROM bt LEFT JOIN va ON bt.lang = va.lang AND bt.w = va.w
        |  WHERE va.w IS NULL GROUP BY bt.lang),
        |tot AS (SELECT lang, count(*) AS b_types,
        |    CAST(sum(n) AS BIGINT) AS b_tokens FROM bt GROUP BY lang)
        |SELECT tot.lang, b_types, b_tokens,
        |  CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
        |  CAST(coalesce(new_tokens, 0) AS BIGINT) AS new_tokens,
        |  CAST(coalesce(new_types, 0) AS BIGINT) * 1000000 // b_types
        |    AS new_type_ppm,
        |  CAST(coalesce(new_tokens, 0) AS BIGINT) * 1000000 // b_tokens
        |    AS new_token_ppm
        |FROM tot LEFT JOIN novel ON tot.lang = novel.lang
        |ORDER BY tot.lang""".stripMargin,

    "q192_audience_overlap" ->
      """WITH inc AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS n FROM inc GROUP BY event_type),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_shared
        |  FROM inc a JOIN inc b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_shared,
        |  n_shared * 1000000 // (sa.n + sb.n - n_shared) AS jaccard_ppm
        |FROM p
        |JOIN sz sa ON p.type_a = sa.event_type
        |JOIN sz sb ON p.type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    "q193_conversion_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS click_us FROM e
        |      JOIN v ON e.user_id = v.user_id AND e.us >= v.view_us
        |      WHERE event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e
        |      JOIN c ON e.user_id = c.user_id AND e.us >= c.click_us
        |      WHERE event_type = 'purchase' GROUP BY e.user_id),
        |lat AS (SELECT p.purchase_us - v.view_us AS latency_us
        |  FROM p JOIN v ON p.user_id = v.user_id)
        |SELECT CAST(length(bin(latency_us)) - 1 AS BIGINT) AS band,
        |  count(*) AS n_users,
        |  CAST(min(latency_us) AS BIGINT) AS min_us,
        |  CAST(max(latency_us) AS BIGINT) AS max_us
        |FROM lat GROUP BY band ORDER BY band""".stripMargin,

    "q194_supplier_hhi" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS c
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM rev),
        |s AS (SELECT c * 1000000 // t.tot AS share_ppm FROM rev, t)
        |SELECT count(*) AS n_suppliers,
        |  CAST(sum(share_ppm) AS BIGINT) AS share_mass_ppm,
        |  CAST(sum(share_ppm * share_ppm) AS BIGINT) // 1000000 AS hhi_ppm
        |FROM s""".stripMargin,

    "q195_json_audit" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN event_id % 31 = 0 THEN '{"k": "corrupt"}' ELSE props END
        |      AS p2
        |  FROM events),
        |k AS (SELECT event_type,
        |    TRY_CAST(json_extract_string(p2, '$.k') AS BIGINT) AS k
        |  FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS parse_failures,
        |  CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS fail_ppm
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q196_zipf_audit" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |c AS (SELECT w, count(*) AS n FROM w GROUP BY w),
        |r AS (SELECT n,
        |    row_number() OVER (ORDER BY n DESC, w) AS rk FROM c),
        |b AS (SELECT CAST(length(CAST(rk AS VARCHAR)) - 1 AS BIGINT) AS band,
        |    count(*) AS n_types, CAST(sum(n) AS BIGINT) AS band_tokens,
        |    CAST(sum(rk * n) AS BIGINT) AS rank_freq_mass,
        |    CAST(min(n) AS BIGINT) AS min_freq,
        |    CAST(max(n) AS BIGINT) AS max_freq
        |  FROM r GROUP BY 1),
        |t AS (SELECT CAST(sum(band_tokens) AS BIGINT) AS total FROM b)
        |SELECT band, n_types, band_tokens,
        |  band_tokens * 1000000 // t.total AS token_share_ppm,
        |  rank_freq_mass, min_freq, max_freq
        |FROM b, t ORDER BY band""".stripMargin,

    "q197_new_returning" ->
      """WITH o AS (SELECT o_custkey,
        |    strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT o_custkey, min(month) AS first_month
        |  FROM o GROUP BY o_custkey)
        |SELECT month, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN month = first_month THEN 1 ELSE 0 END)
        |    AS BIGINT) AS new_orders,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents,
        |  CAST(sum(CASE WHEN month = first_month THEN cents ELSE 0 END)
        |    AS BIGINT) AS new_revenue_cents,
        |  CAST(sum(CASE WHEN month = first_month THEN cents ELSE 0 END)
        |    AS BIGINT) * 1000000 // CAST(sum(cents) AS BIGINT)
        |    AS new_revenue_ppm
        |FROM o JOIN f USING (o_custkey)
        |GROUP BY month ORDER BY month""".stripMargin,

    "q198_centroid_drift" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    vec_id % 2 AS half,
        |    unnest(list_transform(range(1, 65), i -> {
        |      'dim': CAST(i AS BIGINT),
        |      'q': CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |    })) AS u
        |  FROM embeddings),
        |s AS (SELECT label, half, u.dim AS dim,
        |    CAST(sum(u.q) AS BIGINT) AS sq,
        |    count(*) AS n
        |  FROM e GROUP BY 1, 2, 3),
        |a AS (SELECT label, dim, sq AS sa, n AS na FROM s WHERE half = 0),
        |b AS (SELECT label, dim, sq AS sb, n AS nb FROM s WHERE half = 1),
        |j AS (SELECT coalesce(a.label, b.label) AS label,
        |    coalesce(sa, 0) AS sa, coalesce(na, 0) AS na,
        |    coalesce(sb, 0) AS sb, coalesce(nb, 0) AS nb
        |  FROM a FULL OUTER JOIN b ON a.label = b.label AND a.dim = b.dim)
        |SELECT label, CAST(max(na) AS BIGINT) AS n_a,
        |  CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(sum(abs(sa * nb - sb * na)) AS BIGINT) AS drift_mass
        |FROM j GROUP BY label ORDER BY label""".stripMargin,

    "q199_order_fanout" ->
      """WITH c AS (SELECT l_orderkey, count(*) AS n_lines
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT CAST(length(bin(n_lines)) - 1 AS BIGINT) AS band,
        |  count(*) AS n_orders,
        |  CAST(min(n_lines) AS BIGINT) AS min_lines,
        |  CAST(max(n_lines) AS BIGINT) AS max_lines,
        |  CAST(sum(n_lines) AS BIGINT) AS sum_lines
        |FROM c GROUP BY band ORDER BY band""".stripMargin,

    "q200_scorecard" ->
      raw"""WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp,
        |    min(doc_id) OVER (PARTITION BY
        |      coalesce(md5(text), 'null:' || CAST(doc_id AS VARCHAR)))
        |      AS keep_id
        |  FROM documents),
        |a AS (SELECT count(*) AS m_docs,
        |    CAST(sum(n_words) AS BIGINT) AS m_tokens,
        |    CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS m_dups,
        |    CAST(sum(CASE WHEN n_words < 20 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS m_short,
        |    CAST(sum(CASE WHEN fp % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS m_eval,
        |    CAST(sum(CASE WHEN doc_id % 19 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS m_forget,
        |    CAST(sum(CASE WHEN ((((doc_id % 40 + 40) % 40) * 2654435761) % 40) % 10 = 3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS m_blocked,
        |    CAST(sum(CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS m_template
        |  FROM d)
        |SELECT 'n_docs' AS metric, m_docs AS value FROM a
        |UNION ALL SELECT 'n_tokens', m_tokens FROM a
        |UNION ALL SELECT 'exact_dup_docs', m_dups FROM a
        |UNION ALL SELECT 'short_docs', m_short FROM a
        |UNION ALL SELECT 'eval_band_docs', m_eval FROM a
        |UNION ALL SELECT 'deletion_requests', m_forget FROM a
        |UNION ALL SELECT 'blocklisted_docs', m_blocked FROM a
        |UNION ALL SELECT 'template_docs', m_template FROM a
        |ORDER BY metric""".stripMargin,

    // Same stopword classifier as q31/q97: hits*20 >= n_words -> 'en'.
    "q201_lang_purity" ->
      """WITH p AS (SELECT source, lang,
        |    CASE WHEN len(list_filter(string_split(text, ' '),
        |        w -> w = 'the' OR w = 'a' OR w = 'of')) * 20
        |      >= len(string_split(text, ' '))
        |      THEN 'en' ELSE 'unknown' END AS pred_lang
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_agree,
        |  CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS purity_ppm
        |FROM p GROUP BY source ORDER BY source""".stripMargin,

    "q202_weekday_seasonality" ->
      """WITH e AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS iso_dow
        |  FROM events),
        |g AS (SELECT event_type, iso_dow, count(*) AS n_events
        |  FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS type_total
        |  FROM g GROUP BY event_type)
        |SELECT g.event_type, iso_dow, n_events,
        |  n_events * 1000000 // type_total AS share_ppm
        |FROM g JOIN t ON g.event_type = t.event_type
        |ORDER BY g.event_type, iso_dow""".stripMargin,

    "q203_source_terms" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |bs AS (SELECT source, w, count(*) AS cnt FROM w
        |       GROUP BY source, w HAVING count(*) >= 20),
        |bw AS (SELECT w, count(*) AS tot_w FROM w GROUP BY w),
        |st AS (SELECT source, count(*) AS src_total FROM w GROUP BY source),
        |g AS (SELECT count(*) AS grand_total FROM w),
        |l AS (SELECT bs.source, bs.w, bs.cnt,
        |    bs.cnt * g.grand_total * 1000000
        |      // (bw.tot_w * st.src_total) AS lift_ppm
        |  FROM bs JOIN bw USING (w) JOIN st USING (source) CROSS JOIN g),
        |r AS (SELECT source, w, cnt, lift_ppm,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY lift_ppm DESC, w) AS BIGINT) AS rk
        |  FROM l)
        |SELECT source, rk, w, cnt, lift_ppm
        |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin,

    "q204_dup_by_length" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    min(doc_id) OVER (PARTITION BY
        |      coalesce(md5(text), 'null:' || CAST(doc_id AS VARCHAR)))
        |      AS keep_id
        |  FROM documents)
        |SELECT least(n_chars // 100, 19) AS band,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS dup_docs,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)
        |    AS BIGINT) * 1000000 // count(*) AS dup_ppm
        |FROM d GROUP BY band ORDER BY band""".stripMargin,

    "q205_word_lengths" ->
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |w AS (SELECT CAST(length(w) AS BIGINT) AS len FROM w0),
        |h AS (SELECT len, count(*) AS n_words FROM w GROUP BY len),
        |t AS (SELECT CAST(sum(n_words) AS BIGINT) AS total FROM h)
        |SELECT len, n_words, n_words * 1000000 // t.total AS share_ppm
        |FROM h, t ORDER BY len""".stripMargin,

    "q206_status_mix" ->
      """WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    o_orderstatus
        |  FROM orders),
        |g AS (SELECT month, o_orderstatus, count(*) AS n_orders
        |  FROM o GROUP BY 1, 2),
        |t AS (SELECT month, CAST(sum(n_orders) AS BIGINT) AS month_total
        |  FROM g GROUP BY month)
        |SELECT g.month, o_orderstatus, n_orders,
        |  n_orders * 1000000 // month_total AS share_ppm
        |FROM g JOIN t ON g.month = t.month
        |ORDER BY g.month, o_orderstatus""".stripMargin,

    "q207_key_completeness" ->
      """SELECT 'customer' AS table_name, 'c_custkey' AS key_column,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_keys FROM customer
        |UNION ALL SELECT 'documents', 'doc_id', count(*),
        |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM documents
        |UNION ALL SELECT 'embeddings', 'vec_id', count(*),
        |  CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM embeddings
        |UNION ALL SELECT 'events', 'event_id', count(*),
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM events
        |UNION ALL SELECT 'lineitem', 'l_orderkey', count(*),
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |UNION ALL SELECT 'nation', 'n_nationkey', count(*),
        |  CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM nation
        |UNION ALL SELECT 'orders', 'o_orderkey', count(*),
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |UNION ALL SELECT 'part', 'p_partkey', count(*),
        |  CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM part
        |UNION ALL SELECT 'region', 'r_regionkey', count(*),
        |  CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM region
        |UNION ALL SELECT 'supplier', 's_suppkey', count(*),
        |  CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM supplier
        |ORDER BY table_name""".stripMargin,

    "q208_late_orders" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q209_disjunctive_revenue" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#8' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin,

    "q210_dormant_balance" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer),
        |p AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS pos_sum,
        |    count(*) AS pos_n FROM c WHERE bal_cents > 0)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  CAST(count(*) AS BIGINT) AS n_custs,
        |  CAST(sum(bal_cents) AS BIGINT) AS bal_sum_cents
        |FROM c CROSS JOIN p
        |WHERE bal_cents * pos_n > pos_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY nationkey""".stripMargin,

    "q211_ship_delay_mix" ->
      """WITH j AS (SELECT date_diff('day', o_orderdate, l_shipdate) AS delay_days,
        |    o_orderpriority IN ('1-URGENT', '2-HIGH') AS critical
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT CASE WHEN delay_days < 0 THEN '0_early'
        |    WHEN delay_days <= 30 THEN '1_within_30d'
        |    WHEN delay_days <= 90 THEN '2_within_90d'
        |    ELSE '3_over_90d' END AS band,
        |  CAST(sum(CASE WHEN critical THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
        |  CAST(sum(CASE WHEN critical THEN 0 ELSE 1 END) AS BIGINT) AS other_lines,
        |  CAST(min(delay_days) AS BIGINT) AS min_delay,
        |  CAST(max(delay_days) AS BIGINT) AS max_delay
        |FROM j GROUP BY band ORDER BY band""".stripMargin,

    "q212_dim_variance" ->
      """WITH q AS (SELECT unnest(list_transform(range(1, 65), i -> {
        |      'dim': CAST(i AS BIGINT),
        |      'm': CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |    })) AS u
        |  FROM embeddings),
        |g AS (SELECT u.dim AS dim, CAST(count(*) AS BIGINT) AS n_vecs,
        |    CAST(sum(u.m) AS BIGINT) AS sum_millis,
        |    CAST(sum(u.m * u.m) AS BIGINT) AS ss_millis,
        |    count(*) * sum(u.m * u.m) - sum(u.m) * sum(u.m) AS vn
        |  FROM q GROUP BY u.dim)
        |SELECT dim, n_vecs, sum_millis, ss_millis,
        |  CAST(vn // 1000000000000000000 AS BIGINT) AS var_hi,
        |  CAST(vn % 1000000000000000000 AS BIGINT) AS var_lo
        |FROM g ORDER BY dim""".stripMargin,

    // Both legs replay X3's exact arithmetic: the polynomial shingle hash,
    // the 12-perm signature, the 4-band bucketing — and the truth leg is
    // the exact Jaccard of the distinct shingle-hash sets on the sample.
    // The shingle hash replays at UTF-8-byte level (FpByteFold), so the
    // agreement holds on any corpus, not just ASCII (q252 pins that).
    "q213_minhash_agreement" ->
      raw"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |    WHERE len(string_split(text, ' ')) >= 3
        |      AND doc_id % greatest(1, (SELECT count(*) FROM documents) // 500) = 0),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
        |hs AS (SELECT doc_id, list_transform(shingles,
        |         s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                          $FpByteFold)) AS h FROM sh),
        |sig AS (SELECT doc_id, list_distinct(h) AS ss, [
        |  list_min(list_transform(h, x -> (3 * x + 1) % 1000000007)),
        |  list_min(list_transform(h, x -> (7 * x + 5) % 1000000007)),
        |  list_min(list_transform(h, x -> (11 * x + 13) % 1000000007)),
        |  list_min(list_transform(h, x -> (17 * x + 29) % 1000000007)),
        |  list_min(list_transform(h, x -> (23 * x + 37) % 1000000007)),
        |  list_min(list_transform(h, x -> (31 * x + 43) % 1000000007)),
        |  list_min(list_transform(h, x -> (41 * x + 53) % 1000000007)),
        |  list_min(list_transform(h, x -> (47 * x + 61) % 1000000007)),
        |  list_min(list_transform(h, x -> (59 * x + 71) % 1000000007)),
        |  list_min(list_transform(h, x -> (67 * x + 79) % 1000000007)),
        |  list_min(list_transform(h, x -> (73 * x + 89) % 1000000007)),
        |  list_min(list_transform(h, x -> (83 * x + 101) % 1000000007))] AS sig FROM hs),
        |bands AS (SELECT doc_id, i AS band_idx,
        |    CAST(sig[3*i + 1] AS VARCHAR) || ':' || CAST(sig[3*i + 2] AS VARCHAR)
        |      || ':' || CAST(sig[3*i + 3] AS VARCHAR) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
        |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |cand2 AS (SELECT doc_a, doc_b
        |  FROM cands JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |  WHERE len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) >= 6),
        |truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) * 2 >=
        |    CAST(len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) AS BIGINT))
        |SELECT
        |  (SELECT count(*) FROM docs) AS n_sample_docs,
        |  (SELECT count(*) FROM truth) AS n_truth,
        |  (SELECT count(*) FROM cand2) AS n_cand,
        |  (SELECT count(*) FROM truth t JOIN cand2 c
        |     ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit,
        |  CASE WHEN (SELECT count(*) FROM cand2) = 0 THEN 0
        |    ELSE (SELECT count(*) FROM truth t JOIN cand2 c
        |            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1000000
        |         // (SELECT count(*) FROM cand2) END AS precision_ppm,
        |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 0
        |    ELSE (SELECT count(*) FROM truth t JOIN cand2 c
        |            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1000000
        |         // (SELECT count(*) FROM truth) END AS recall_ppm""".stripMargin,

    "q214_norm_dedup_delta" ->
      """WITH all_docs AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT -doc_id - 1, source, replace(upper(text), ' ', '  ')
        |    FROM documents WHERE doc_id % 25 = 0),
        |d AS (SELECT doc_id, source,
        |    coalesce(md5(text), 'null:' || CAST(doc_id AS VARCHAR)) AS h_exact,
        |    coalesce(md5(trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g'))),
        |      'null:' || CAST(doc_id AS VARCHAR)) AS h_norm
        |  FROM all_docs)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT h_exact) AS BIGINT) AS exact_unique,
        |  CAST(count(DISTINCT h_norm) AS BIGINT) AS norm_unique,
        |  CAST(sum(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_planted,
        |  CAST(count(*) - count(DISTINCT h_exact) AS BIGINT) AS exact_dup_docs,
        |  CAST(count(DISTINCT h_exact) - count(DISTINCT h_norm) AS BIGINT)
        |    AS extra_norm_dups
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "q215_window_frames" ->
      """SELECT user_id, event_id, us,
        |  first_value(us) OVER w1 AS first_us,
        |  last_value(event_type) OVER w2 AS last_type,
        |  nth_value(event_type, 3) OVER w2 AS third_type,
        |  CAST(sum(cents) OVER w3 AS BIGINT) AS trail3_cents
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |WINDOW
        |  w1 AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  w2 AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |  w3 AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin,

    "q216_spend_decile_shift" ->
      """WITH o AS (SELECT o_custkey, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |e0 AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS spend FROM o
        |  WHERE o_orderdate < TIMESTAMP '1998-07-01' GROUP BY o_custkey),
        |l0 AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS spend FROM o
        |  WHERE o_orderdate >= TIMESTAMP '1998-07-01' GROUP BY o_custkey),
        |e AS (SELECT o_custkey,
        |    (row_number() OVER (ORDER BY spend, o_custkey) - 1) * 10
        |      // (SELECT count(*) FROM e0) + 1 AS early_decile FROM e0),
        |l AS (SELECT o_custkey,
        |    (row_number() OVER (ORDER BY spend, o_custkey) - 1) * 10
        |      // (SELECT count(*) FROM l0) + 1 AS late_decile FROM l0)
        |SELECT coalesce(e.early_decile, 0) AS early_decile,
        |  coalesce(l.late_decile, 0) AS late_decile,
        |  CAST(count(*) AS BIGINT) AS n_custs
        |FROM e FULL OUTER JOIN l USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q217_label_margin" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS q_id, label AS q_label, q AS qq FROM e
        |  WHERE vec_id % 50 = 0),
        |d AS (SELECT q_id, q_label, e.label AS label,
        |    list_reduce(list_transform(generate_series(1, len(qq)),
        |      i -> (qq[i] - e.q[i]) * (qq[i] - e.q[i])), (a, b) -> a + b) AS d2
        |  FROM e CROSS JOIN qs WHERE e.vec_id != qs.q_id)
        |SELECT q_id, q_label,
        |  CAST(min(CASE WHEN label = q_label THEN d2 END) AS BIGINT) AS min_same_d2,
        |  CAST(min(CASE WHEN label != q_label THEN d2 END) AS BIGINT) AS min_other_d2,
        |  CAST(min(CASE WHEN label != q_label THEN d2 END)
        |    - min(CASE WHEN label = q_label THEN d2 END) AS BIGINT) AS margin
        |FROM d GROUP BY q_id, q_label ORDER BY q_id""".stripMargin,

    "q218_shipping_priority" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY o_orderkey, orderdate, o_orderpriority
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin,

    "q219_revenue_forecast" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
        |    AS BIGINT) AS forecast_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q220_promotion_suppliers" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red %')
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 100)
        |ORDER BY s_suppkey""".stripMargin,

    "q221_blame_supplier" ->
      """WITH j AS (SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    date_diff('day', o_orderdate, l_shipdate) AS delay
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |late AS (SELECT DISTINCT ok, sk FROM j WHERE delay > 365)
        |SELECT sk AS s_suppkey, CAST(count(*) AS BIGINT) AS n_blamed_orders
        |FROM late l
        |WHERE EXISTS (SELECT 1 FROM j
        |  WHERE j.ok = l.ok AND j.sk != l.sk AND j.delay <= 90)
        |GROUP BY sk ORDER BY n_blamed_orders DESC, s_suppkey LIMIT 20""".stripMargin,

    // The Spark side ENCODES a deterministic gray test card to a real
    // PNG/BMP bitstream and DECODES it back via javax.imageio; the oracle
    // recomputes the expected dimensions and pixel sum arithmetically —
    // equality proves the real codec round trip without DuckDB decoding
    // anything.
    "q222_image_decode" ->
      """SELECT d.doc_id,
        |  CASE WHEN ((d.doc_id % 2) + 2) % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
        |  CAST(((d.doc_id % 13) + 13) % 13 + 1 AS BIGINT) AS width,
        |  CAST(((d.doc_id % 7) + 7) % 7 + 1 AS BIGINT) AS height,
        |  CAST(sum(3 * ((((d.doc_id + 31 * g1.i + 17 * g2.j) % 256) + 256) % 256))
        |    AS BIGINT) AS pixel_sum
        |FROM documents d, generate_series(0, 12) g1(i), generate_series(0, 6) g2(j)
        |WHERE g1.i < ((d.doc_id % 13) + 13) % 13 + 1
        |  AND g2.j < ((d.doc_id % 7) + 7) % 7 + 1
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // q230: q222's arithmetic replay for the JVM's two remaining native
    // image codecs. GIF rides an exact 256-gray palette (lossless round
    // trip -> exact pixel sum); JPEG is lossy by design, so the portable
    // gate is exact SOF dimensions + decode success with pixel_sum = -1
    // (the fidelity bound is asserted JVM-side in MultimodalSpec). Card
    // height runs 5..11: this JDK's GIF writer corrupts heights 2-4.
    "q230_jpeg_gif_decode" ->
      """SELECT d.doc_id,
        |  CASE WHEN ((d.doc_id % 2) + 2) % 2 = 0 THEN 'jpeg' ELSE 'gif' END AS fmt,
        |  CAST(((d.doc_id % 13) + 13) % 13 + 1 AS BIGINT) AS width,
        |  CAST(((d.doc_id % 7) + 7) % 7 + 5 AS BIGINT) AS height,
        |  CASE WHEN ((d.doc_id % 2) + 2) % 2 = 0 THEN CAST(-1 AS BIGINT)
        |    ELSE CAST(sum(3 * ((((d.doc_id + 31 * g1.i + 17 * g2.j) % 256) + 256) % 256))
        |      AS BIGINT) END AS pixel_sum
        |FROM documents d, generate_series(0, 12) g1(i), generate_series(0, 10) g2(j)
        |WHERE g1.i < ((d.doc_id % 13) + 13) % 13 + 1
        |  AND g2.j < ((d.doc_id % 7) + 7) % 7 + 5
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // q231: the packing decision table — PAD vs CONCAT waste per candidate
    // context length; per-doc ceil-division folds + arithmetic on the
    // |capacities|-row frame, integer-exact in both engines.
    "q231_packing_efficiency" ->
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |e AS (SELECT n_tok, CAST(c.c AS BIGINT) AS capacity
        |      FROM t CROSS JOIN (SELECT unnest([128, 512, 2048]) AS c) c),
        |g AS (SELECT capacity, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |        CAST(sum((n_tok + capacity - 1) // capacity) AS BIGINT) AS pad_windows
        |      FROM e GROUP BY capacity)
        |SELECT capacity, n_docs, total_tokens, pad_windows,
        |  pad_windows * capacity - total_tokens AS pad_waste,
        |  (pad_windows * capacity - total_tokens) * 1000000
        |    // (pad_windows * capacity) AS pad_waste_ppm,
        |  (total_tokens + capacity - 1) // capacity AS concat_windows,
        |  ((total_tokens + capacity - 1) // capacity) * capacity - total_tokens
        |    AS concat_waste,
        |  (((total_tokens + capacity - 1) // capacity) * capacity - total_tokens)
        |    * 1000000 // (((total_tokens + capacity - 1) // capacity) * capacity)
        |    AS concat_waste_ppm
        |FROM g ORDER BY capacity""".stripMargin,

    // q232: winnowing (MOSS) fingerprint selection — per-word polynomial
    // byte hashes (FpByteFold with an explicit 0-prepend seed), 4-gram
    // fold, sliding window-of-4 minimum, distinct; all per-document list
    // arithmetic both engines replay exactly.
    "q232_winnowing" ->
      raw"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 7),
        |h AS (SELECT doc_id, list_transform(ws,
        |        w -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(w, ''),
        |            c -> CAST(ascii(c) AS BIGINT))),
        |          $FpByteFold)) AS hs FROM d),
        |gr AS (SELECT doc_id, list_transform(generate_series(1, len(hs) - 3),
        |        i -> list_reduce(list_slice(hs, i, i + 3),
        |          (a, b) -> (a * 31 + b) % 1000000007)) AS g FROM h),
        |sel AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
        |        list_distinct(list_transform(generate_series(1, len(g) - 3),
        |          i -> list_min(list_slice(g, i, i + 3)))) AS s FROM gr)
        |SELECT doc_id, n_grams, n_grams - 3 AS n_windows,
        |  CAST(len(s) AS BIGINT) AS n_selected,
        |  CAST(len(s) AS BIGINT) * 1000000 // (n_grams - 3) AS density_ppm
        |FROM sel ORDER BY doc_id""".stripMargin,

    // q233: X3's full MinHash replay (q34's CTE chain verbatim) swept over
    // every agreement threshold k in [6,12]; the pair table is banded
    // candidates only, so the sweep never touches all-pairs.
    "q233_threshold_sensitivity" ->
      raw"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
        |hs AS (SELECT doc_id, list_transform(shingles,
        |         s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                          $FpByteFold)) AS h FROM sh),
        |sig AS (SELECT doc_id, [
        |  list_min(list_transform(h, x -> (3 * x + 1) % 1000000007)),
        |  list_min(list_transform(h, x -> (7 * x + 5) % 1000000007)),
        |  list_min(list_transform(h, x -> (11 * x + 13) % 1000000007)),
        |  list_min(list_transform(h, x -> (17 * x + 29) % 1000000007)),
        |  list_min(list_transform(h, x -> (23 * x + 37) % 1000000007)),
        |  list_min(list_transform(h, x -> (31 * x + 43) % 1000000007)),
        |  list_min(list_transform(h, x -> (41 * x + 53) % 1000000007)),
        |  list_min(list_transform(h, x -> (47 * x + 61) % 1000000007)),
        |  list_min(list_transform(h, x -> (59 * x + 71) % 1000000007)),
        |  list_min(list_transform(h, x -> (67 * x + 79) % 1000000007)),
        |  list_min(list_transform(h, x -> (73 * x + 89) % 1000000007)),
        |  list_min(list_transform(h, x -> (83 * x + 101) % 1000000007))] AS sig FROM hs),
        |bands AS (SELECT doc_id, i AS band_idx,
        |    CAST(sig[3*i + 1] AS VARCHAR) || ':' || CAST(sig[3*i + 2] AS VARCHAR)
        |      || ':' || CAST(sig[3*i + 3] AS VARCHAR) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
        |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b,
        |    CAST(len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_match
        |  FROM cands JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |  WHERE len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) >= 6)
        |SELECT CAST(k.k AS BIGINT) AS threshold, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped
        |FROM pairs CROSS JOIN (SELECT unnest(generate_series(6, 12)) AS k) k
        |WHERE n_match >= k.k
        |GROUP BY k.k ORDER BY threshold""".stripMargin,

    // q234: CCNet-style perplexity bucketing — q107's score chain ranked
    // by (score, doc_id) into deciles via row_number arithmetic; the
    // Spark leg's GlobalOrder rank matches because the order key is total.
    "q234_perplexity_buckets" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w),
        |g AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM x),
        |c2 AS (SELECT w1, w2, count(*) AS n12 FROM g GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
        |d AS (SELECT c2.w1, c2.w2, n12 * 1000000 // n1 AS ppm
        |      FROM c2 JOIN c1 USING (w1)),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(ppm) AS BIGINT) // count(*) AS score
        |       FROM g JOIN d USING (w1, w2) GROUP BY doc_id),
        |j AS (SELECT sc.doc_id, sc.n_pairs, sc.score, documents.source
        |      FROM sc JOIN documents USING (doc_id)),
        |r AS (SELECT *, row_number() OVER (ORDER BY score, doc_id) AS rk,
        |        count(*) OVER () AS n_total FROM j)
        |SELECT (rk - 1) * 10 // n_total AS decile, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
        |  CAST(min(score) AS BIGINT) AS min_score_ppm,
        |  CAST(max(score) AS BIGINT) AS max_score_ppm
        |FROM r GROUP BY 1, 2 ORDER BY decile, source""".stripMargin,

    // q235: content-defined chunking — cuts where the rolling 4-gram hash
    // is ≡ 0 mod 16, chunk fingerprints in q224's packed two-fold space.
    // Both folds seed an EXPLICIT 0 ([0] || slice): a single-token chunk
    // must reduce mod 999999937 exactly like Spark's 0-seeded aggregate
    // (list_reduce's first-element seeding skips the mod for 1-element
    // lists, and 70 of 1e9+7 word-hash values exceed that modulus).
    "q235_cdc_chunking" ->
      raw"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |            WHERE len(string_split(text, ' ')) >= 4),
        |h AS (SELECT doc_id, list_transform(ws,
        |        w -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(w, ''),
        |            c -> CAST(ascii(c) AS BIGINT))),
        |          $FpByteFold)) AS hs FROM d0),
        |c AS (SELECT doc_id, hs, list_sort(list_distinct(list_concat(
        |        list_filter(list_transform(generate_series(1, len(hs) - 3),
        |          i -> CASE WHEN list_reduce(list_slice(hs, i, i + 3),
        |                 (a, b) -> (a * 31 + b) % 1000000007) % 16 = 0
        |               THEN i + 3 ELSE -1 END), x -> x > 0),
        |        [len(hs)]))) AS cuts FROM h),
        |f AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_tokens,
        |        list_transform(generate_series(1, len(cuts)), j ->
        |          list_reduce(list_concat([CAST(0 AS BIGINT)], list_slice(hs,
        |              CASE WHEN j = 1 THEN 1 ELSE cuts[j - 1] + 1 END, cuts[j])),
        |            (a, b) -> (a * 31 + b) % 1000000007) * 2147483648
        |          + list_reduce(list_concat([CAST(0 AS BIGINT)], list_slice(hs,
        |              CASE WHEN j = 1 THEN 1 ELSE cuts[j - 1] + 1 END, cuts[j])),
        |            (a, b) -> (a * 37 + b) % 999999937)) AS cfps
        |      FROM c),
        |pc AS (SELECT doc_id, n_tokens, CAST(len(cfps) AS BIGINT) AS n_chunks,
        |         unnest(cfps) AS fp FROM f),
        |rep AS (SELECT fp FROM (SELECT DISTINCT fp, doc_id FROM pc)
        |        GROUP BY fp HAVING count(*) >= 2)
        |SELECT doc_id, max(n_tokens) AS n_tokens, max(n_chunks) AS n_chunks,
        |  CAST(sum(CASE WHEN fp IN (SELECT fp FROM rep) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS shared_chunks,
        |  max(n_tokens) * 1000 // max(n_chunks) AS mean_chunk_milli,
        |  CAST(sum(CASE WHEN fp IN (SELECT fp FROM rep) THEN 1 ELSE 0 END)
        |    AS BIGINT) * 1000000 // max(n_chunks) AS shared_ppm
        |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q236: winnowing recall certificate on q213's deterministic sample —
    // truth = pairs with >= 4 consecutive shared grams (the staircase
    // trick), index = pairs sharing a winnowed fingerprint; the theorem
    // forces n_missed = 0, and the oracle re-derives the same certificate.
    // truth/idx/g/gp are MATERIALIZED: each is referenced several times
    // and default inlining re-expands the whole upstream chain per use.
    "q236_winnow_recall" ->
      raw"""WITH k AS (SELECT greatest(1, count(*) // 500) AS k FROM documents),
        |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents, k
        |      WHERE len(string_split(text, ' ')) >= 7 AND doc_id % k.k = 0),
        |h AS (SELECT doc_id, list_transform(ws,
        |        w -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(w, ''),
        |            c -> CAST(ascii(c) AS BIGINT))),
        |          $FpByteFold)) AS hs FROM d),
        |g AS MATERIALIZED (SELECT doc_id,
        |        list_transform(generate_series(1, len(hs) - 3),
        |          i -> list_reduce(list_slice(hs, i, i + 3),
        |            (a, b) -> (a * 31 + b) % 1000000007)) AS g FROM h),
        |xp AS (SELECT doc_id, g, unnest(generate_series(1, len(g))) AS pos FROM g),
        |gp AS MATERIALIZED (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |        g[pos] AS fp FROM xp),
        |sh AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        |       FROM gp a JOIN gp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |st AS (SELECT da, db, pa - pb AS off,
        |         pa - row_number() OVER (PARTITION BY da, db, pa - pb
        |           ORDER BY pa) AS stair
        |       FROM sh),
        |truth AS MATERIALIZED (SELECT DISTINCT da, db FROM
        |        (SELECT da, db FROM st GROUP BY da, db, off, stair
        |         HAVING count(*) >= 4)),
        |sel AS (SELECT doc_id, unnest(list_distinct(
        |          list_transform(generate_series(1, len(g) - 3),
        |            i -> list_min(list_slice(g, i, i + 3))))) AS sfp FROM g),
        |idx AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |        FROM sel a JOIN sel b ON a.sfp = b.sfp AND a.doc_id < b.doc_id)
        |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth_pairs,
        |  CAST((SELECT count(*) FROM idx) AS BIGINT) AS n_index_pairs,
        |  CAST((SELECT count(*) FROM truth t WHERE NOT EXISTS
        |    (SELECT 1 FROM idx i WHERE i.da = t.da AND i.db = t.db))
        |    AS BIGINT) AS n_missed,
        |  CAST((SELECT count(*) FROM idx i WHERE NOT EXISTS
        |    (SELECT 1 FROM truth t WHERE t.da = i.da AND t.db = i.db))
        |    AS BIGINT) AS n_extra""".stripMargin,

    // q237: q106's unrolled 3-iteration Lloyd's replay (labels and
    // quantized vectors carried through the final assignment), then
    // within-cluster exact top-5 by (d2, vec_id) and the deterministic
    // majority vote (votes desc, label asc). a3 is MATERIALIZED — the
    // knn self-join references it twice and inlining would replay the
    // whole Lloyd's chain per side.
    "q237_label_noise" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
        |       FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 8)),
        |a1 AS (SELECT vec_id, q, cid, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c0 c)) WHERE rn = 1),
        |x1 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a1),
        |s1 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x1 GROUP BY cid, i),
        |u1 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s1 GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(u1.c, c0.c) AS c FROM c0 LEFT JOIN u1 USING (cid)),
        |a2 AS (SELECT vec_id, q, cid, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c1 c)) WHERE rn = 1),
        |x2 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a2),
        |s2 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x2 GROUP BY cid, i),
        |u2 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s2 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(u2.c, c1.c) AS c FROM c1 LEFT JOIN u2 USING (cid)),
        |a3 AS MATERIALIZED (SELECT vec_id, label, q, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.label, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c2 c)) WHERE rn = 1),
        |top5 AS (SELECT va, la, lb FROM (
        |    SELECT a.vec_id AS va, a.label AS la, b.label AS lb,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_sum(list_transform(generate_series(1, len(a.q)),
        |          i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))), b.vec_id) AS rn
        |    FROM a3 a JOIN a3 b ON a.cid = b.cid AND a.vec_id != b.vec_id)
        |  WHERE rn <= 5),
        |votes AS (SELECT va, la, lb, CAST(count(*) AS BIGINT) AS c
        |          FROM top5 GROUP BY va, la, lb),
        |win AS (SELECT va, la, lb, c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY va ORDER BY c DESC, lb NULLS FIRST) AS rk
        |    FROM votes) WHERE rk = 1)
        |SELECT va AS vec_id, la AS label, lb AS majority_label,
        |  c AS majority_votes,
        |  CAST(CASE WHEN la != lb THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM win ORDER BY vec_id""".stripMargin,

    // q238: q50's full recursive-reachability cluster replay, folded into
    // per-source soft-dedup weights (unclustered docs weigh 1e6 ppm).
    "q238_dedup_weights" ->
      raw"""WITH RECURSIVE docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
        |hs AS (SELECT doc_id, list_transform(shingles,
        |         s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                          $FpByteFold)) AS h FROM sh),
        |sig AS (SELECT doc_id, [
        |  list_min(list_transform(h, x -> (3 * x + 1) % 1000000007)),
        |  list_min(list_transform(h, x -> (7 * x + 5) % 1000000007)),
        |  list_min(list_transform(h, x -> (11 * x + 13) % 1000000007)),
        |  list_min(list_transform(h, x -> (17 * x + 29) % 1000000007)),
        |  list_min(list_transform(h, x -> (23 * x + 37) % 1000000007)),
        |  list_min(list_transform(h, x -> (31 * x + 43) % 1000000007)),
        |  list_min(list_transform(h, x -> (41 * x + 53) % 1000000007)),
        |  list_min(list_transform(h, x -> (47 * x + 61) % 1000000007)),
        |  list_min(list_transform(h, x -> (59 * x + 71) % 1000000007)),
        |  list_min(list_transform(h, x -> (67 * x + 79) % 1000000007)),
        |  list_min(list_transform(h, x -> (73 * x + 89) % 1000000007)),
        |  list_min(list_transform(h, x -> (83 * x + 101) % 1000000007))] AS sig FROM hs),
        |bands AS (SELECT doc_id, i AS band_idx,
        |    CAST(sig[3*i + 1] AS VARCHAR) || ':' || CAST(sig[3*i + 2] AS VARCHAR)
        |      || ':' || CAST(sig[3*i + 3] AS VARCHAR) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
        |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM cands JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |  WHERE len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) >= 6),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
        |reach AS (
        |  SELECT doc_id, doc_id AS label FROM nodes
        |  UNION
        |  SELECT e.a AS doc_id, r.label FROM edges e JOIN reach r ON r.doc_id = e.b),
        |lab AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS canonical_id
        |        FROM reach GROUP BY doc_id),
        |sz AS (SELECT canonical_id, count(*) AS cluster_size FROM lab GROUP BY canonical_id),
        |w AS (SELECT d.doc_id, d.source,
        |        j.cluster_size IS NOT NULL AS clustered,
        |        COALESCE(j.cluster_size, 1) AS csize
        |      FROM documents d LEFT JOIN
        |        (SELECT lab.doc_id, CAST(sz.cluster_size AS BIGINT) AS cluster_size
        |         FROM lab JOIN sz USING (canonical_id)) j USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
        |  CAST(sum(1000000 // csize) AS BIGINT) AS eff_mass_ppm,
        |  CAST(sum(1000000 // csize) AS BIGINT) // count(*) AS eff_ratio_ppm
        |FROM w GROUP BY source ORDER BY source""".stripMargin,

    // q239: the Spark leg round-trips customer through CSV/JSON/ORC and
    // checksums the READ-BACK frames; the oracle recomputes the same
    // checksums straight from the parquet source — equal iff every
    // format's write/read path is lossless. Cents via round() (both
    // engines round half away from zero on doubles).
    "q239_format_roundtrip" ->
      """WITH chk AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(c_custkey) AS BIGINT) AS sum_key,
        |    CAST(sum(c_nationkey) AS BIGINT) AS sum_nation,
        |    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |    CAST(sum(length(c_name) + length(c_mktsegment)) AS BIGINT) AS sum_strlen
        |  FROM customer)
        |SELECT f.format, chk.n_rows, chk.sum_key, chk.sum_nation,
        |  chk.sum_cents, chk.sum_strlen
        |FROM (VALUES ('csv'), ('json'), ('orc')) f(format) CROSS JOIN chk
        |ORDER BY f.format""".stripMargin,

    // q251: the aHash replays arithmetically (nearest-neighbor 8x8 grid
    // on the lossless test card, so decoded pixel == formula); the
    // oracle's pair stage is the naive all-pairs form of the Spark
    // leg's banded hamming-LSH — identical verdicts by the pigeonhole
    // recall guarantee.
    "q251_image_phash" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 7 THEN doc_id - 5 ELSE doc_id END AS base,
        |    doc_id % 10 = 7 AS twin
        |  FROM documents),
        |dim AS (SELECT doc_id, base, twin,
        |    base % 13 + 1 AS w, base % 7 + 1 AS h FROM d),
        |sm AS (SELECT doc_id, base, twin, k,
        |    ((k % 8) * w) // 8 AS x, ((k // 8) * h) // 8 AS y
        |  FROM dim CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k)),
        |sv AS (SELECT doc_id, k,
        |    ((((base % 256 + 256) % 256) * (2 * x + 3 * y + 5)
        |        + 7 * x * x + 11 * y * y) % 256 +
        |     CASE WHEN twin AND x = 0 AND y = 0 THEN 1 ELSE 0 END) % 256 AS s
        |  FROM sm),
        |tot AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS tot
        |  FROM sv GROUP BY doc_id),
        |hsh AS MATERIALIZED (SELECT sv.doc_id,
        |    CAST(COALESCE(sum(CASE WHEN k >= 32 AND 64 * s > tot
        |      THEN (CAST(1 AS BIGINT) << (k - 32)) END), 0) AS BIGINT) AS hash_hi,
        |    CAST(COALESCE(sum(CASE WHEN k < 32 AND 64 * s > tot
        |      THEN (CAST(1 AS BIGINT) << k) END), 0) AS BIGINT) AS hash_lo
        |  FROM sv JOIN tot USING (doc_id) GROUP BY sv.doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.hash_hi, b.hash_hi)) +
        |       bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
        |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |WHERE (a.hash_hi != 0 OR a.hash_lo != 0)
        |  AND (b.hash_hi != 0 OR b.hash_lo != 0)
        |  AND bit_count(xor(a.hash_hi, b.hash_hi)) +
        |      bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // q250: q82's weight chain + the split-form quota/epoch divisions
    // (algebraically identical to floor(B*w/1e6) / floor(q*1000/n) for
    // positive int64, without the overflow products).
    "q250_epoch_plan" ->
      """WITH l AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |w AS (SELECT *, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w_sqrt FROM l),
        |n AS (SELECT *,
        |    w_sqrt * 1000000 // CAST(sum(w_sqrt) OVER () AS BIGINT) AS weight_ppm,
        |    CAST(sum(n_tokens) OVER () AS BIGINT) // 2 AS budget FROM w),
        |p AS (SELECT *, (budget // 1000000) * weight_ppm +
        |    ((budget % 1000000) * weight_ppm) // 1000000 AS quota_tokens FROM n),
        |e AS (SELECT *, (quota_tokens // n_tokens) * 1000 +
        |    ((quota_tokens % n_tokens) * 1000) // n_tokens AS epochs_permille FROM p)
        |SELECT lang, n_docs, n_tokens, weight_ppm, quota_tokens, epochs_permille,
        |  CAST(CASE WHEN epochs_permille > 1000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS repeats_data
        |FROM e ORDER BY lang""".stripMargin,

    // q252: the planted suffixes are interpolated VERBATIM from
    // TextOps.Utf8Plant (one dictionary, both engines); the fold replays
    // graft_fingerprint at UTF-8-byte level via FpByteFold, so the row is
    // byte-exact on accents/Greek/CJK/astral emoji — not just ASCII.
    "q252_utf8_fingerprint" ->
      raw"""SELECT doc_id,
        |  CAST(length(t2) AS BIGINT) AS n_chars,
        |  CAST(strlen(t2) AS BIGINT) AS n_bytes,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(t2, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    $FpByteFold) AS fp
        |FROM (SELECT doc_id, text || CASE doc_id % 8 ${(1 to 7).map(i =>
                 s"WHEN $i THEN '${graft.ops.TextOps.Utf8Plant(i)}'").mkString(" ")}
        |    ELSE '' END || ' fin' AS t2 FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // q253: full replay of the suffix-anchored repeated-substring pipeline
    // — whitespace normalize, content-defined anchors (byte-fold hash of
    // the 8-char context, 0 mod 4), 24-char bucket keys capped at 2..64
    // docs, then LCP extension over the pre-reversed/forward 200-char
    // windows. list_position returns 0 when no mismatch exists (matching
    // Spark's array_position), hence the pos = 0 -> full-length arm.
    "q253_suffix_repeats" ->
      raw"""WITH base AS (
        |  SELECT doc_id, regexp_replace(coalesce(text, ''), ' {2,}', ' ', 'g') AS na
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL SELECT * FROM (VALUES ${graft.ops.DedupOps.SuffixPlant
                 .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
                 .mkString(",\n        |          ")}) v(doc_id, text))),
        |an AS MATERIALIZED (
        |  SELECT doc_id,
        |    substr(na, p, ${graft.ops.DedupOps.SfxKey}) AS key,
        |    reverse(substr(na, greatest(1, p - ${graft.ops.DedupOps.SfxWin}),
        |                   p - greatest(1, p - ${graft.ops.DedupOps.SfxWin}))) AS bck,
        |    substr(na, p, ${graft.ops.DedupOps.SfxWin}) AS fwd
        |  FROM (SELECT doc_id, na,
        |          unnest(generate_series(1,
        |            greatest(length(na) - ${graft.ops.DedupOps.SfxKey - 1}, 0))) AS p
        |        FROM base)
        |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(substr(na, p, ${graft.ops.DedupOps.SfxCtx}), ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    $FpByteFold) % ${graft.ops.DedupOps.SfxMod} = 0),
        |k2 AS MATERIALIZED (
        |  SELECT key FROM (SELECT key, count(DISTINCT doc_id) AS nd
        |                   FROM an GROUP BY key)
        |  WHERE nd >= 2 AND nd <= ${graft.ops.DedupOps.SfxKeyCap}),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.bck AS ba, a.fwd AS fa, b.bck AS bb, b.fwd AS fb
        |  FROM an a JOIN k2 USING (key) JOIN an b USING (key)
        |  WHERE a.doc_id < b.doc_id),
        |sp AS (SELECT doc_a, doc_b,
        |    (CASE WHEN least(length(ba), length(bb)) = 0 THEN 0
        |      WHEN list_position(list_transform(
        |          generate_series(1, least(length(ba), length(bb))),
        |          i -> substr(ba, i, 1) = substr(bb, i, 1)), false) = 0
        |        THEN least(length(ba), length(bb))
        |      ELSE list_position(list_transform(
        |          generate_series(1, least(length(ba), length(bb))),
        |          i -> substr(ba, i, 1) = substr(bb, i, 1)), false) - 1 END)
        |    + (CASE WHEN least(length(fa), length(fb)) = 0 THEN 0
        |      WHEN list_position(list_transform(
        |          generate_series(1, least(length(fa), length(fb))),
        |          i -> substr(fa, i, 1) = substr(fb, i, 1)), false) = 0
        |        THEN least(length(fa), length(fb))
        |      ELSE list_position(list_transform(
        |          generate_series(1, least(length(fa), length(fb))),
        |          i -> substr(fa, i, 1) = substr(fb, i, 1)), false) - 1 END)
        |    AS span
        |  FROM cand)
        |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_anchor_pairs,
        |  CAST(max(span) AS BIGINT) AS max_span
        |FROM sp GROUP BY doc_a, doc_b
        |HAVING max(span) >= ${graft.ops.DedupOps.SfxMinSpan}
        |ORDER BY doc_a, doc_b""".stripMargin,

    // q256: DuckDB's utf8proc nfc_normalize vs the Spark leg's
    // java.text.Normalizer — both UAX #15; the byte fold then hashes the
    // normalized string, so a one-codepoint divergence between the two
    // NFC implementations would break the cluster hash. Plant literals
    // interpolate verbatim from DedupOps.NfcPlant.
    "q256_nfc_dedup" ->
      raw"""WITH base AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES ${graft.ops.DedupOps.NfcPlant
                 .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
                 .mkString(",\n        |    ")}) v(doc_id, text)),
        |n AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp_raw,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(nfc_normalize(text), ''), c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp_nfc,
        |    CAST(length(nfc_normalize(text)) AS BIGINT) AS nfc_chars
        |  FROM base)
        |SELECT CAST(min(doc_id) AS BIGINT) AS min_doc_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT fp_raw) AS BIGINT) AS n_raw_variants,
        |  fp_nfc, CAST(min(nfc_chars) AS BIGINT) AS nfc_chars
        |FROM n GROUP BY fp_nfc
        |HAVING count(*) >= 2 AND count(DISTINCT fp_raw) >= 2
        |ORDER BY min_doc_id""".stripMargin,

    // q257: primary below-10 suppression, row-wise complementary
    // suppression (rank-1 unsuppressed cell when exactly one primary),
    // margin suppression when nothing remains to complement, round-to-10
    // on everything released. Plants interpolate from PipelineOps.SdcPlant.
    "q257_sdc_release" ->
      s"""WITH base AS (SELECT doc_id, source, lang FROM documents
        |  UNION ALL SELECT * FROM (VALUES ${graft.ops.PipelineOps.SdcPlant
             .map { case (id, src, lg) => s"(CAST($id AS BIGINT), '$src', '$lg')" }
             .mkString(",\n        |    ")}) v(doc_id, source, lang)),
        |c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
        |    count(*) < 10 AS pri
        |  FROM base GROUP BY 1, 2),
        |t AS (SELECT *,
        |    CAST(sum(CASE WHEN pri THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY source) AS BIGINT) AS n_pri,
        |    CASE WHEN NOT pri THEN row_number()
        |      OVER (PARTITION BY source, pri ORDER BY n, lang) END AS rk_u
        |  FROM c),
        |cells AS (SELECT source, lang, n,
        |    CASE WHEN pri THEN 'primary'
        |         WHEN n_pri = 1 AND rk_u = 1 THEN 'complementary'
        |         ELSE 'ok' END AS status
        |  FROM t),
        |rel AS (SELECT source, lang, n AS n_docs,
        |    CAST(CASE WHEN status = 'ok' THEN ((n + 5) // 10) * 10
        |              ELSE -1 END AS BIGINT) AS released, status
        |  FROM cells),
        |m AS (SELECT source, '~total' AS lang,
        |    CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(CASE WHEN sum(CASE WHEN status = 'primary' THEN 1 ELSE 0 END) >= 1
        |           AND sum(CASE WHEN status <> 'primary' THEN 1 ELSE 0 END) = 0
        |      THEN -1 ELSE ((sum(n) + 5) // 10) * 10 END AS BIGINT) AS released,
        |    CASE WHEN sum(CASE WHEN status = 'primary' THEN 1 ELSE 0 END) >= 1
        |           AND sum(CASE WHEN status <> 'primary' THEN 1 ELSE 0 END) = 0
        |      THEN 'margin_suppressed' ELSE 'margin' END AS status
        |  FROM cells GROUP BY source)
        |SELECT * FROM rel UNION ALL SELECT * FROM m
        |ORDER BY source, lang""".stripMargin,

    // q258: the same integer-milli EWMA recurrence as a prepended-init
    // list_reduce over the day-ordered series (q247's fold idiom) — the
    // fold is deliberately sequential, EWMA is order-dependent.
    "q258_ewma_backtest" ->
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS total_events,
        |    list(c ORDER BY day) AS cs
        |  FROM d GROUP BY event_type),
        |f AS (SELECT event_type, total_events,
        |    list_reduce(
        |      list_prepend([CAST(0 AS BIGINT), 0, 0, 0, 0],
        |        list_transform(cs, c -> [c, 0, 0, 0, 0])),
        |      (acc, e) -> CASE WHEN acc[5] = 0
        |        THEN [e[1] * 1000, e[1], 0, 0, 1]
        |        ELSE [(300 * e[1] * 1000 + 700 * acc[1]) // 1000,
        |              e[1],
        |              acc[3] + abs(e[1] * 1000 - acc[1]),
        |              acc[4] + abs(e[1] - acc[2]) * 1000,
        |              acc[5] + 1] END) AS st
        |  FROM g)
        |SELECT event_type, CAST(st[5] AS BIGINT) AS n_days, total_events,
        |  CAST(st[3] AS BIGINT) AS ewma_abs_err_milli,
        |  CAST(st[4] AS BIGINT) AS naive_abs_err_milli,
        |  CAST(CASE WHEN st[4] = 0 THEN -1
        |       ELSE st[3] * 1000000 // st[4] END AS BIGINT) AS skill_ppm
        |FROM f ORDER BY event_type""".stripMargin,

    // q259: identical escape-free regex literals on both engines (q246's
    // detector-sharing discipline without even an escaping delta); the
    // near-miss class (≡3 mod 4) must count zero everywhere.
    "q259_special_tokens" ->
      raw"""WITH p AS (SELECT doc_id, coalesce(text, '') ||
        |    CASE ((doc_id % 4) + 4) % 4
        |      WHEN 1 THEN ' <|endoftext|> <fim_prefix> tail'
        |      WHEN 2 THEN ' [INST] do a thing [/INST] <<SYS>> x'
        |      WHEN 3 THEN ' <endoftext> plain [INST tag'
        |      ELSE '' END || ' end' AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '<[|][a-z_]+[|]>')) AS BIGINT)
        |    AS n_reserved,
        |  CAST(len(regexp_extract_all(t2, '${graft.ops.PipelineOps.ChatMarkers}')) AS BIGINT)
        |    AS n_chat_markers,
        |  CAST(len(regexp_extract_all(t2, '<fim_[a-z]+>')) AS BIGINT) AS n_fim,
        |  CAST(CASE WHEN len(regexp_extract_all(t2, '<[|][a-z_]+[|]>'))
        |      + len(regexp_extract_all(t2, '${graft.ops.PipelineOps.ChatMarkers}'))
        |      + len(regexp_extract_all(t2, '<fim_[a-z]+>')) > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS has_special
        |FROM p ORDER BY doc_id""".stripMargin,

    // q260: q163's LCP replay twice — once to decide the strip, once to
    // re-audit the stripped corpus; bit_xor is the portable
    // order-independent content checksum (a modular sum overflows at
    // corpus scale). The byte fold replays graft_fingerprint.
    "q260_boilerplate_strip" ->
      raw"""WITH d AS (SELECT doc_id, lang, coalesce(text, '') AS text
        |  FROM documents),
        |l AS (SELECT doc_id, lang, text,
        |    lag(text) OVER (PARTITION BY lang ORDER BY text, doc_id)
        |      AS prev_text
        |  FROM d),
        |m0 AS (SELECT doc_id, lang, text,
        |    CASE WHEN prev_text IS NULL THEN 0
        |         ELSE least(64, length(text), length(prev_text)) END AS m,
        |    prev_text FROM l),
        |c0 AS (SELECT doc_id, lang, text,
        |    CASE WHEN m = 0 THEN 0
        |         ELSE least(m, list_min(list_transform(range(1, m + 1), j ->
        |           CASE WHEN substring(text, j, 1) = substring(prev_text, j, 1)
        |                THEN m + 1 ELSE j END)) - 1) END AS lcp
        |  FROM m0),
        |st AS (SELECT doc_id, lang, lcp AS lcp_before, lcp >= 20 AS strip,
        |    CASE WHEN lcp >= 20 THEN substring(text, CAST(lcp + 1 AS INTEGER))
        |         ELSE text END AS text
        |  FROM c0),
        |l2 AS (SELECT *, lag(text) OVER (PARTITION BY lang
        |    ORDER BY text, doc_id) AS prev_text FROM st),
        |m2 AS (SELECT *, CASE WHEN prev_text IS NULL THEN 0
        |    ELSE least(64, length(text), length(prev_text)) END AS m FROM l2),
        |c2 AS (SELECT lang, lcp_before, strip, text,
        |    CASE WHEN m = 0 THEN 0
        |         ELSE least(m, list_min(list_transform(range(1, m + 1), j ->
        |           CASE WHEN substring(text, j, 1) = substring(prev_text, j, 1)
        |                THEN m + 1 ELSE j END)) - 1) END AS lcp
        |  FROM m2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN lcp_before >= 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS boiler_before,
        |  CAST(sum(CASE WHEN strip THEN 1 ELSE 0 END) AS BIGINT) AS docs_stripped,
        |  CAST(sum(CASE WHEN strip THEN lcp_before ELSE 0 END) AS BIGINT)
        |    AS chars_removed,
        |  CAST(sum(CASE WHEN lcp >= 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS boiler_after,
        |  CAST(bit_xor(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    $FpByteFold)) AS BIGINT) AS fp_after_xor
        |FROM c2 GROUP BY lang ORDER BY lang""".stripMargin,

    // q261: the oracle derives the planted segment structure purely from
    // doc_id (segment lengths, gap placement, per-sample amplitude with
    // the pre-reduced id); the Spark leg re-detects it from DECODED WAV
    // bytes with generic run-length logic — equality gates codec AND
    // detector at sample exactness.
    "q261_audio_segments" ->
      """WITH d AS (SELECT doc_id,
        |    (doc_id % 4 + 4) % 4 + 2 AS nseg,
        |    (doc_id % 80 + 80) % 80 AS idm,
        |    (doc_id % 30 + 30) % 30 AS idr
        |  FROM documents),
        |sg AS (SELECT doc_id, nseg, idm, k, 20 + ((idr + 7 * k) % 30) AS lk
        |  FROM (SELECT *, unnest(generate_series(0, CAST(nseg AS BIGINT) - 1)) AS k
        |        FROM d)),
        |st AS (SELECT *, coalesce(sum(lk) OVER (PARTITION BY doc_id ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 16 * k AS s0
        |  FROM sg),
        |sm AS (SELECT doc_id, idm,
        |    unnest(generate_series(CAST(s0 AS BIGINT),
        |      CAST(s0 + lk - 1 AS BIGINT))) AS i FROM st),
        |aa AS (SELECT doc_id,
        |    CAST(sum(20 + (7 * idm + 13 * i) % 80) AS BIGINT) AS amp_sum
        |  FROM sm GROUP BY doc_id),
        |gg AS (SELECT doc_id,
        |    CAST(sum(lk) + 16 * (max(nseg) - 1) AS BIGINT) AS n_samples,
        |    CAST(max(nseg) AS BIGINT) AS n_segments,
        |    CAST(sum(lk) AS BIGINT) AS total_active,
        |    CAST(max(lk) AS BIGINT) AS max_seg_len
        |  FROM sg GROUP BY doc_id)
        |SELECT gg.doc_id, n_samples, n_segments, total_active, max_seg_len, amp_sum
        |FROM gg JOIN aa USING (doc_id) ORDER BY doc_id""".stripMargin,

    // q265: the confusable map and the plant interpolate verbatim from
    // TextOps; DuckDB's translate maps per codepoint like Spark's (all
    // map entries are BMP), and nfc_normalize runs first on both legs.
    "q265_skeleton_dedup" ->
      raw"""WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents
        |  UNION ALL SELECT doc_id, coalesce(text, '') FROM (VALUES ${graft.ops.TextOps.ScriptPlant
                 .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
                 .mkString(",\n        |    ")}) v(doc_id, text)),
        |n AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(nfc_normalize(t), ''), c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp_nfc,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(translate(nfc_normalize(t),
        |        '${graft.ops.TextOps.ConfusablesFrom}',
        |        '${graft.ops.TextOps.ConfusablesTo}'), ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp_skeleton
        |  FROM base)
        |SELECT CAST(min(doc_id) AS BIGINT) AS min_doc_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT fp_nfc) AS BIGINT) AS n_nfc_variants,
        |  fp_skeleton
        |FROM n GROUP BY fp_skeleton
        |HAVING count(*) >= 2 AND count(DISTINCT fp_nfc) >= 2
        |ORDER BY min_doc_id""".stripMargin,

    // q266: the wrapper pieces and entity table interpolate verbatim from
    // TextOps.MarkupWrap/EntityMap (no piece contains a single quote);
    // the strip chain is identical — DuckDB regexp_replace needs the 'g'
    // flag Spark applies by default, and the entity decode is plain
    // (non-regex) replace on both engines, `&amp;` last.
    "q266_markup_strip" ->
      raw"""WITH w AS (SELECT doc_id,
        |    CASE (doc_id % 6 + 6) % 6 ${graft.ops.TextOps.MarkupWrap.zipWithIndex
               .map { case ((p, q), i) =>
                 s"WHEN $i THEN '$p' || coalesce(text, '') || '$q'" }
               .mkString("\n        |      ")}
        |    END AS t2
        |  FROM documents),
        |s AS (SELECT doc_id, t2,
        |    regexp_replace(regexp_replace(regexp_replace(t2,
        |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g') AS s3
        |  FROM w),
        |d AS (SELECT doc_id, t2, s3,
        |    ${graft.ops.TextOps.EntityMap.foldLeft(
                 "regexp_replace(s3, '<[^>]*>', ' ', 'g')") {
               case (acc, (ent, "'")) => s"replace($acc, '$ent', chr(39))"
               case (acc, (ent, ch))  => s"replace($acc, '$ent', '$ch')"
             }} AS s5
        |  FROM s),
        |f AS (SELECT doc_id, t2, s3,
        |    trim(regexp_replace(s5, '[ \t\n\r]+', ' ', 'g')) AS s6 FROM d)
        |SELECT doc_id, CAST(length(t2) AS BIGINT) AS n_raw,
        |  CAST(length(s6) AS BIGINT) AS n_text,
        |  CAST(len(regexp_extract_all(s3, '<[^>]*>')) AS BIGINT) AS n_tags,
        |  CAST(len(regexp_extract_all(t2, '&(amp|lt|gt|quot|#39|#x2603);'))
        |    AS BIGINT) AS n_entities,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |    string_split(s6, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    $FpByteFold) AS fp_text
        |FROM f ORDER BY doc_id""".stripMargin,

    // q267: the footer plant derives from (source, doc_id) arithmetically;
    // the line-df threshold uses integer div on both engines, l2/tagged
    // are MATERIALIZED (each referenced twice), and string_agg's
    // null-skipping CASE mirrors Spark's null-skipping collect_list.
    "q267_line_boilerplate" ->
      raw"""WITH base AS (SELECT doc_id, source, coalesce(text, '') ||
        |    chr(10) || '(C) ' || source || ' syndication network' ||
        |    CASE WHEN (doc_id % 3 + 3) % 3 <> 2
        |      THEN chr(10) || 'subscribe at ' || source || ' daily digest'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 29 = 0
        |      THEN chr(10) || 'editor note ' || CAST(doc_id % 7 AS VARCHAR)
        |      ELSE '' END AS t2
        |  FROM documents),
        |arr AS (SELECT doc_id, source, string_split(t2, chr(10)) AS a
        |  FROM base),
        |l2 AS MATERIALIZED (SELECT doc_id, source, pos,
        |    a[CAST(pos AS INT) + 1] AS ln
        |  FROM (SELECT doc_id, source, a,
        |      unnest(generate_series(CAST(0 AS BIGINT),
        |        CAST(len(a) - 1 AS BIGINT))) AS pos
        |    FROM arr)),
        |srcn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |boiler AS (SELECT f.source, f.ln
        |  FROM (SELECT source, ln, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM l2 GROUP BY 1, 2) f
        |  JOIN srcn USING (source)
        |  WHERE df >= 2 AND df * 1000000 // n_docs >= 200000),
        |tagged AS MATERIALIZED (SELECT l.doc_id, l.source, l.pos, l.ln,
        |    CASE WHEN b.ln IS NULL THEN 1 ELSE 0 END AS keep
        |  FROM l2 l LEFT JOIN boiler b
        |    ON l.source = b.source AND l.ln = b.ln),
        |perline AS (SELECT source, CAST(count(*) AS BIGINT) AS lines_before,
        |    CAST(sum(1 - keep) AS BIGINT) AS lines_removed,
        |    CAST(sum(CASE WHEN keep = 0 THEN length(ln) ELSE 0 END)
        |      AS BIGINT) AS chars_removed,
        |    CAST(count(DISTINCT CASE WHEN keep = 0 THEN ln END) AS BIGINT)
        |      AS boiler_lines
        |  FROM tagged GROUP BY 1),
        |perdoc AS (SELECT doc_id, source,
        |    coalesce(string_agg(CASE WHEN keep = 1 THEN ln END,
        |      chr(10) ORDER BY pos), '') AS new_text
        |  FROM tagged GROUP BY 1, 2),
        |fps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    bit_xor(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(new_text, ''),
        |        c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)) AS fp_after_xor
        |  FROM perdoc GROUP BY 1)
        |SELECT source, n_docs, lines_before, boiler_lines, lines_removed,
        |  chars_removed, fp_after_xor
        |FROM fps JOIN perline USING (source) ORDER BY source""".stripMargin,

    // q268: the plant interpolates verbatim from DedupOps.PermPlant; the
    // signature folds (xor / sum / count over per-chunk byte-fold
    // fingerprints) are order-independent on both engines, and chunk
    // boundaries come from the same 8-word grouping.
    "q268_perm_dedup" ->
      raw"""WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents
        |  UNION ALL SELECT doc_id, t FROM (VALUES ${graft.ops.DedupOps.PermPlant
               .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
               .mkString(",\n        |    ")}) v(doc_id, t)),
        |sg AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp_raw,
        |    list_transform(generate_series(CAST(0 AS BIGINT),
        |        (CAST(len(string_split(t, ' ')) AS BIGINT) + 7) // 8 - 1),
        |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(array_to_string(
        |          list_slice(string_split(t, ' '),
        |            CAST(i * 8 + 1 AS INT), CAST(i * 8 + 8 AS INT)), ' '), ''),
        |          ch -> CAST(ascii(ch) AS BIGINT))), $FpByteFold)) AS fps
        |  FROM base),
        |g AS (SELECT doc_id, fp_raw, CAST(len(fps) AS BIGINT) AS n_chunks,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
        |      (a, b) -> xor(a, b)) AS sig_xor,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
        |      (a, b) -> a + b) AS sig_sum
        |  FROM sg)
        |SELECT CAST(min(doc_id) AS BIGINT) AS min_doc_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT fp_raw) AS BIGINT) AS n_raw_variants,
        |  n_chunks, sig_xor, sig_sum
        |FROM g GROUP BY n_chunks, sig_xor, sig_sum
        |HAVING count(*) >= 2 AND count(DISTINCT fp_raw) >= 2
        |ORDER BY min_doc_id""".stripMargin,

    // q269: same plant arithmetic (pre-reduced overflow-safe id mixer),
    // same parse regex (anchored, optional groups return '' unmatched on
    // both engines), same canonical rebuild (lowercase, default-port
    // strip, tracking-param filter, lexicographic param sort).
    "q269_url_canonical" ->
      raw"""WITH w AS (SELECT doc_id, text,
        |    CAST(((doc_id % 40 + 40) % 40 * 2654435761) % 40 AS VARCHAR) AS k,
        |    CAST((doc_id % 7 + 7) % 7 AS VARCHAR) AS m
        |  FROM documents),
        |b AS (SELECT doc_id, coalesce(text, '') || ' see ' ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://' ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'Site' || k || '.Example.ORG'
        |         ELSE 'site' || k || '.example.org' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ':8443'
        |         WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
        |    '/p/' || m ||
        |    CASE WHEN doc_id % 2 = 0 THEN '?id=' || m || '&ref=a'
        |         ELSE '?ref=a&id=' || m END ||
        |    CASE WHEN doc_id % 2 = 1 THEN '&utm_source=news' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '&fbclid=xyz' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END || ' end' AS t2
        |  FROM w),
        |uu AS (SELECT doc_id,
        |    regexp_extract(t2, '(?i)(https?://[^ ]+)', 1) AS u FROM b),
        |p AS (SELECT doc_id, u,
        |    lower(regexp_extract(u,
        |      '^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$$',
        |      1)) AS scheme,
        |    lower(regexp_extract(u,
        |      '^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$$',
        |      2)) AS host,
        |    regexp_extract(u,
        |      '^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$$',
        |      3) AS port,
        |    regexp_extract(u,
        |      '^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$$',
        |      4) AS path,
        |    regexp_extract(u,
        |      '^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$$',
        |      5) AS qraw
        |  FROM uu),
        |c AS (SELECT doc_id, u,
        |    scheme || '://' || host ||
        |    CASE WHEN (scheme = 'https' AND port = ':443')
        |           OR (scheme = 'http' AND port = ':80') THEN ''
        |         ELSE port END ||
        |    path ||
        |    CASE WHEN len(ps) = 0 THEN ''
        |         ELSE '?' || array_to_string(list_sort(ps), '&') END
        |      AS canonical_url
        |  FROM (SELECT *, list_filter(string_split(substr(qraw, 2), '&'),
        |      pp -> pp <> '' AND substr(pp, 1, 4) <> 'utm_'
        |        AND substr(pp, 1, 7) <> 'fbclid='
        |        AND substr(pp, 1, 6) <> 'gclid=') AS ps FROM p))
        |SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS min_doc_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT u) AS BIGINT) AS n_raw_urls
        |FROM c GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY canonical_url""".stripMargin,

    // q270: the excerpt plant (first 16 words of every mod-37 doc) and
    // the capped inverted index replay identically; sizes count POST-CAP
    // evidence grams on both engines, so planted containment is exactly
    // 1e6 ppm. g/gi/sizes are MATERIALIZED (multi-referenced).
    "q270_containment" ->
      raw"""WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |base AS (SELECT doc_id, t FROM d
        |  UNION ALL
        |  SELECT -doc_id - 1000,
        |    array_to_string(list_slice(string_split(t, ' '), 1, 16), ' ')
        |  FROM d WHERE doc_id % 37 = 0),
        |g AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(CAST(0 AS BIGINT), CAST(len(w) - 5 AS BIGINT)),
        |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(array_to_string(
        |        list_slice(w, CAST(i + 1 AS INT), CAST(i + 5 AS INT)), ' '), ''),
        |      ch -> CAST(ascii(ch) AS BIGINT))), $FpByteFold)))) AS gf
        |  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM base)
        |  WHERE len(w) >= 5),
        |keep AS (SELECT gf FROM g GROUP BY gf HAVING count(*) <= 64),
        |gi AS MATERIALIZED (SELECT g.doc_id, g.gf FROM g JOIN keep USING (gf)),
        |sizes AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng
        |  FROM gi GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM gi a JOIN gi b USING (gf) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT
        |    CASE WHEN sa.ng <= sb.ng THEN da ELSE db END AS excerpt_id,
        |    CASE WHEN sa.ng <= sb.ng THEN db ELSE da END AS host_id,
        |    least(sa.ng, sb.ng) AS grams_excerpt,
        |    greatest(sa.ng, sb.ng) AS grams_host, shared
        |  FROM pairs
        |  JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db)
        |SELECT excerpt_id, host_id, grams_excerpt, grams_host, shared,
        |  shared * 1000000 // grams_excerpt AS containment_ppm
        |FROM j
        |WHERE shared >= 8 AND grams_excerpt * 2 <= grams_host
        |  AND shared * 1000000 // grams_excerpt >= 900000
        |ORDER BY excerpt_id, host_id""".stripMargin,

    // q271: identical composite-key RANGE window (k = us*1024 + id salt,
    // one numeric sort key per engine's RANGE rules), identical integer
    // split v div n + remainder-to-latest via the k*2+is_view arg-max
    // pack — every boundary and tie is a VALUE decision on both engines.
    "q271_linear_attrib" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    coalesce(value, 0) AS value, epoch_us(ts) AS us,
        |    epoch_us(ts) * 1024 + (event_id % 1024 + 1024) % 1024 AS k
        |  FROM events),
        |w1 AS (SELECT *,
        |    coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER win, 0) AS nv,
        |    coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER win, 0) AS nc,
        |    max(CASE WHEN event_type IN ('view', 'click')
        |        THEN k * 2 + CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
        |        END) OVER win AS mlast
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY k
        |    RANGE BETWEEN 619315200000000 PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    CAST(nv AS BIGINT) AS nv, CAST(nc AS BIGINT) AS nc, mlast
        |  FROM w1 WHERE event_type = 'purchase'),
        |p2 AS (SELECT v, nv, nc, nv + nc AS n,
        |    CASE WHEN nv + nc > 0 THEN v // (nv + nc) ELSE 0 END AS base,
        |    CASE WHEN nv + nc > 0 THEN mlast % 2 ELSE 0 END AS lview
        |  FROM p),
        |p3 AS (SELECT *, CASE WHEN n > 0 THEN v - base * n ELSE 0 END AS rem
        |  FROM p2),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN n > 0 THEN base * nv + rem * lview
        |      ELSE 0 END) AS BIGINT) AS credit_view,
        |    CAST(sum(CASE WHEN n > 0 THEN base * nc + rem * (1 - lview)
        |      ELSE 0 END) AS BIGINT) AS credit_click,
        |    CAST(sum(CASE WHEN n = 0 THEN v ELSE 0 END) AS BIGINT)
        |      AS credit_un,
        |    CAST(sum(CASE WHEN n > 0 THEN nv ELSE 0 END) AS BIGINT) AS t_view,
        |    CAST(sum(CASE WHEN n > 0 THEN nc ELSE 0 END) AS BIGINT) AS t_click,
        |    CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p_view,
        |    CAST(sum(CASE WHEN nc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p_click,
        |    CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS p_un
        |  FROM p3)
        |SELECT 'click' AS touch_type, t_click AS n_touches,
        |  p_click AS n_purchases, credit_click AS credit_cents FROM a
        |UNION ALL SELECT 'unattributed', CAST(0 AS BIGINT), p_un, credit_un
        |  FROM a
        |UNION ALL SELECT 'view', t_view, p_view, credit_view FROM a
        |ORDER BY touch_type""".stripMargin,

    // q272: the stacked pair scan is generated from the SAME catalog
    // (SchemaOps.FdPairs) the Spark leg uses.
    "q272_fd_discovery" ->
      s"""WITH pr AS (${graft.operators.SchemaOps.FdPairs.map { case (t, a, b) =>
             s"SELECT '$t.$a' AS lhs_col, '$t.$b' AS rhs_col, " +
               s"CAST($a AS BIGINT) AS a, CAST($b AS BIGINT) AS b FROM $t " +
               s"WHERE $a IS NOT NULL AND $b IS NOT NULL"
           }.mkString("\n        |  UNION ALL ")}),
        |d AS (SELECT DISTINCT lhs_col, rhs_col, a, b FROM pr),
        |g AS (SELECT lhs_col, rhs_col, a, CAST(count(*) AS BIGINT) AS nb
        |  FROM d GROUP BY 1, 2, 3)
        |SELECT lhs_col, rhs_col, CAST(count(*) AS BIGINT) AS n_lhs,
        |  CAST(sum(nb) AS BIGINT) AS n_pairs,
        |  CAST(max(nb) AS BIGINT) AS max_rhs_per_lhs,
        |  CAST(count(*) AS BIGINT) * 1000000 // CAST(sum(nb) AS BIGINT)
        |    AS fd_ppm,
        |  CAST(CASE WHEN CAST(sum(nb) AS BIGINT) = count(*) THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_fd
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q273: identical integer-div ppm probabilities and the same sparse
    // TV identity (absent bands fold into the global P_total constant);
    // cb is MATERIALIZED (three consumers).
    "q273_tcloseness" ->
      """WITH cb AS MATERIALIZED (SELECT CAST(c_nationkey AS BIGINT)
        |      AS nationkey, c_mktsegment AS segment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS band,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |cls AS (SELECT nationkey, segment, CAST(sum(n) AS BIGINT)
        |    AS n_members FROM cb GROUP BY 1, 2),
        |bnd AS (SELECT band, CAST(sum(n) AS BIGINT) AS n_b
        |  FROM cb GROUP BY 1),
        |nt AS (SELECT CAST(sum(n_b) AS BIGINT) AS n_tot FROM bnd),
        |b2 AS MATERIALIZED (SELECT band, n_b * 1000000 // n_tot AS p_b_ppm
        |  FROM bnd, nt),
        |pt AS (SELECT CAST(sum(p_b_ppm) AS BIGINT) AS p_total FROM b2),
        |j AS (SELECT cb.nationkey, cb.segment, cls.n_members,
        |    abs(cb.n * 1000000 // cls.n_members - b2.p_b_ppm) - b2.p_b_ppm
        |      AS term
        |  FROM cb JOIN cls ON cb.nationkey = cls.nationkey
        |    AND cb.segment = cls.segment
        |  JOIN b2 ON cb.band = b2.band)
        |SELECT nationkey, segment, n_members,
        |  (CAST(sum(term) AS BIGINT) + p_total) // 2 AS tv_ppm,
        |  CASE WHEN (CAST(sum(term) AS BIGINT) + p_total) // 2 > 200000
        |    THEN 'skewed' ELSE 'publish' END AS verdict
        |FROM j, pt GROUP BY nationkey, segment, n_members, p_total
        |ORDER BY nationkey, segment""".stripMargin,

    // q274: dims replay arithmetically from the plant; the format
    // constants (8-bit RGB truecolor, no interlace, signature + CRC ok)
    // are pinned literals — a drifting encoder or broken parser breaks
    // the equality loudly (q222's codec-gate discipline).
    "q274_png_probe" ->
      """SELECT doc_id,
        |  (doc_id % 16 + 16) % 16 + 4 AS width,
        |  (doc_id % 9 + 9) % 9 + 3 AS height,
        |  CAST(8 AS BIGINT) AS bit_depth,
        |  CAST(2 AS BIGINT) AS color_type,
        |  CAST(0 AS BIGINT) AS interlace,
        |  CAST(1 AS BIGINT) AS sig_ok,
        |  CAST(1 AS BIGINT) AS crc_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q275: the SAME v-optimal DP as 8 chained relational levels + 8
    // backtrack steps; packed min(cost*512 + k) tie-breaks exactly like
    // the Spark leg's ascending-k strict-< scan (smallest split on equal
    // cost). cost/pz/dp2..dp7 are MATERIALIZED (multi-referenced).
    "q275_vopt_histogram" -> {
      val dpLevels = (2 to 8).map { j =>
        s"""dp$j AS MATERIALIZED (SELECT c.i,
           |    min((d.pack // 512 + c.cost) * 512 + c.k) AS pack
           |  FROM dp${j - 1} d JOIN cost c ON c.k = d.i GROUP BY c.i)"""
          .stripMargin
      }.mkString(",\n        |")
      val backtracks = (7 to 1 by -1).map { j =>
        s"""b$j AS (SELECT b${j + 1}.k AS e,
           |  (SELECT pack % 512 FROM dp$j WHERE dp$j.i = b${j + 1}.k) AS k
           |  FROM b${j + 1})""".stripMargin
      }.mkString(",\n        |")
      val buckets = (1 to 8).map { j =>
        s"""SELECT CAST($j AS BIGINT) AS bucket, b$j.k AS lo_cell,
           |  b$j.e - 1 AS hi_cell,
           |  (SELECT s FROM pz WHERE pz.i = b$j.e) -
           |    (SELECT s FROM pz WHERE pz.i = b$j.k) AS n_rows,
           |  (SELECT cost FROM cost WHERE cost.k = b$j.k
           |     AND cost.i = b$j.e) AS sse_scaled
           |FROM b$j""".stripMargin
      }.mkString("\n        |UNION ALL ")
      raw"""WITH o AS (SELECT least(CAST(round(o_totalprice * 100) AS BIGINT)
        |      // 200000, 255) AS ci FROM orders),
        |cn AS (SELECT ci, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1),
        |cells AS (SELECT g.i, coalesce(cn.c, 0) AS c
        |  FROM (SELECT unnest(generate_series(CAST(0 AS BIGINT), 255)) AS i) g
        |  LEFT JOIN cn ON cn.ci = g.i),
        |ps AS (SELECT i, CAST(sum(c) OVER (ORDER BY i) AS BIGINT) AS s,
        |    CAST(sum(c * c) OVER (ORDER BY i) AS BIGINT) AS q FROM cells),
        |pz AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS i,
        |    CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS q
        |  UNION ALL SELECT i + 1, s, q FROM ps),
        |cost AS MATERIALIZED (SELECT pk.i AS k, pi.i AS i,
        |    (pi.i - pk.i) * (pi.q - pk.q) - (pi.s - pk.s) * (pi.s - pk.s)
        |      AS cost
        |  FROM pz pk JOIN pz pi ON pk.i < pi.i),
        |dp1 AS MATERIALIZED (SELECT i, cost * 512 + 0 AS pack
        |  FROM cost WHERE k = 0),
        |$dpLevels,
        |b8 AS (SELECT CAST(256 AS BIGINT) AS e, pack % 512 AS k
        |  FROM dp8 WHERE i = 256),
        |$backtracks
        |$buckets
        |ORDER BY bucket""".stripMargin
    },

    // q276: the predicate table interpolates from SchemaOps.SelPredicates
    // (cell-aligned, so exact stays exact); identical cumulative-window
    // boundary search and per-bucket floor-div estimates.
    "q276_selectivity" ->
      s"""WITH o AS (SELECT least(CAST(round(o_totalprice * 100) AS BIGINT)
        |      // 12500, 4095) AS i FROM orders),
        |c0 AS (SELECT i, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1),
        |dense AS (SELECT g.i, coalesce(c0.c, 0) AS c
        |  FROM (SELECT unnest(generate_series(CAST(0 AS BIGINT), 4095)) AS i) g
        |  LEFT JOIN c0 USING (i)),
        |cells AS MATERIALIZED (SELECT i, c,
        |    CAST(sum(c) OVER (ORDER BY i) AS BIGINT) AS cum FROM dense),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM cells),
        |bounds AS (SELECT j, min(i) AS vj
        |  FROM cells, nt,
        |    (SELECT unnest(generate_series(CAST(1 AS BIGINT), 7)) AS j) js
        |  WHERE cum * 8 >= j * n_tot GROUP BY j),
        |wb AS MATERIALIZED (SELECT i, c,
        |    1 + (SELECT count(*) FROM bounds WHERE vj <= cells.i) AS db,
        |    i // 512 + 1 AS wbk
        |  FROM cells),
        |bfw AS (SELECT wbk AS b, min(i) AS blo, max(i) AS bhi,
        |    CAST(sum(c) AS BIGINT) AS nb FROM wb GROUP BY 1),
        |bfd AS (SELECT db AS b, min(i) AS blo, max(i) AS bhi,
        |    CAST(sum(c) AS BIGINT) AS nb FROM wb GROUP BY 1),
        |preds AS (SELECT * FROM (VALUES ${graft.operators.SchemaOps.SelPredicates
               .map { case (lo, hi) =>
                 s"(CAST($lo AS BIGINT), CAST($hi AS BIGINT), " +
                   s"CAST(${lo / 12500} AS BIGINT), CAST(${hi / 12500} AS BIGINT))" }
               .mkString(",\n        |    ")})
        |  p(lo_cents, hi_cents, loc, hic)),
        |ex AS (SELECT lo_cents, hi_cents, CAST(sum(c) AS BIGINT)
        |    AS exact_rows
        |  FROM preds, cells WHERE i >= loc AND i < hic GROUP BY 1, 2),
        |ew AS (SELECT lo_cents, hi_cents, CAST(sum(
        |    nb * greatest(0, least(hic - 1, bhi) - greatest(loc, blo) + 1)
        |      // (bhi - blo + 1)) AS BIGINT) AS est_width
        |  FROM preds, bfw GROUP BY 1, 2),
        |ed AS (SELECT lo_cents, hi_cents, CAST(sum(
        |    nb * greatest(0, least(hic - 1, bhi) - greatest(loc, blo) + 1)
        |      // (bhi - blo + 1)) AS BIGINT) AS est_depth
        |  FROM preds, bfd GROUP BY 1, 2)
        |SELECT lo_cents, hi_cents, exact_rows, est_width, est_depth,
        |  abs(est_width - exact_rows) * 1000000 // greatest(exact_rows, 1)
        |    AS err_width_ppm,
        |  abs(est_depth - exact_rows) * 1000000 // greatest(exact_rows, 1)
        |    AS err_depth_ppm
        |FROM ex JOIN ew USING (lo_cents, hi_cents)
        |JOIN ed USING (lo_cents, hi_cents)
        |ORDER BY lo_cents, hi_cents""".stripMargin,

    // q277: identical planted violations (dup -701 pair, orphan -711,
    // one NULL key, negative total -721, out-of-range quantity -731);
    // the clean corpus contributes zero to every violation count.
    "q277_constraint_verify" ->
      """WITH nn AS (SELECT 'customer.c_custkey NOT NULL' AS constraint_id,
        |    CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations,
        |    CAST(-1 AS BIGINT) AS sample_key
        |  FROM (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
        |        UNION ALL SELECT CAST(NULL AS BIGINT))),
        |uqg AS (SELECT k, CAST(count(*) AS BIGINT) AS m
        |  FROM (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders
        |        UNION ALL SELECT * FROM (VALUES (CAST(-701 AS BIGINT)),
        |          (CAST(-701 AS BIGINT)), (CAST(-702 AS BIGINT))))
        |  GROUP BY 1),
        |uq AS (SELECT 'orders.o_orderkey UNIQUE' AS constraint_id,
        |    CAST(sum(m) AS BIGINT) AS n_checked,
        |    CAST(sum(CASE WHEN m > 1 THEN m ELSE 0 END) AS BIGINT)
        |      AS n_violations,
        |    CAST(coalesce(min(CASE WHEN m > 1 THEN k END), -1) AS BIGINT)
        |      AS sample_key
        |  FROM uqg),
        |oc AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders
        |  UNION ALL SELECT CAST(-711 AS BIGINT)),
        |orph AS (SELECT k FROM oc WHERE k NOT IN
        |  (SELECT CAST(c_custkey AS BIGINT) FROM customer)),
        |fk AS (SELECT 'orders.o_custkey FK customer.c_custkey'
        |      AS constraint_id,
        |    (SELECT CAST(count(*) AS BIGINT) FROM oc) AS n_checked,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orph) AS n_violations,
        |    (SELECT CAST(coalesce(min(k), -1) AS BIGINT) FROM orph)
        |      AS sample_key),
        |pr AS (SELECT 'orders.o_totalprice CHECK > 0' AS constraint_id,
        |    CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(sum(CASE WHEN v <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations,
        |    CAST(coalesce(min(CASE WHEN v <= 0 THEN k END), -1) AS BIGINT)
        |      AS sample_key
        |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |        CAST(o_orderkey AS BIGINT) AS k FROM orders
        |        UNION ALL SELECT CAST(-12345 AS BIGINT),
        |          CAST(-721 AS BIGINT))),
        |qt AS (SELECT 'lineitem.l_quantity CHECK 1..50' AS constraint_id,
        |    CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(sum(CASE WHEN v < 1 OR v > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations,
        |    CAST(coalesce(min(CASE WHEN v < 1 OR v > 50 THEN k END), -1)
        |      AS BIGINT) AS sample_key
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS v,
        |        CAST(l_orderkey AS BIGINT) AS k FROM lineitem
        |        UNION ALL SELECT CAST(99 AS BIGINT), CAST(-731 AS BIGINT)))
        |SELECT * FROM nn UNION ALL SELECT * FROM uq
        |UNION ALL SELECT * FROM fk UNION ALL SELECT * FROM pr
        |UNION ALL SELECT * FROM qt
        |ORDER BY constraint_id""".stripMargin,

    // q278: real consistency-vote detector vs the arithmetic plant
    // (q274's discipline) — the quoted decoy field carries every
    // candidate delimiter, so detection without quote stripping fails.
    "q278_csv_sniff" ->
      """SELECT doc_id,
        |  CAST((doc_id % 4 + 4) % 4 AS BIGINT) AS delim_id,
        |  CAST(3 AS BIGINT) AS n_fields,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS quoted,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS has_header
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q279: identical fingerprint-derived positions (FpByteFold over the
    // 'key:j' string), identical bit_or word packing and probe test; the
    // probe range (+1e7) is provably disjoint from the key range.
    "q279_bloom_calibration" ->
      s"""WITH ks AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT)),
        |    (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT))) v(k)),
        |keys AS (SELECT CAST(c_custkey AS BIGINT) AS key FROM customer),
        |js AS (SELECT unnest(generate_series(CAST(0 AS BIGINT), 3)) AS j),
        |kp0 AS (SELECT ks.k, keys.key, js.j,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(CAST(keys.key AS VARCHAR) || ':' ||
        |        CAST(js.j AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS fp0
        |  FROM ks, keys, js WHERE js.j < ks.k),
        |kp AS MATERIALIZED (SELECT k, key, j,
        |    fp0 * fp0 // 65536 % 16384 AS h FROM kp0),
        |filt AS MATERIALIZED (SELECT k, h // 32 AS w,
        |    bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits
        |  FROM kp GROUP BY 1, 2),
        |nb AS (SELECT k, CAST(sum(bit_count(bits)) AS BIGINT) AS n_bits_set
        |  FROM filt GROUP BY 1),
        |pp0 AS (SELECT ks.k, keys.key + 10000000 AS key, js.j,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(CAST(keys.key + 10000000 AS VARCHAR) || ':' ||
        |        CAST(js.j AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS fp0
        |  FROM ks, keys, js WHERE js.j < ks.k),
        |pp AS (SELECT k, key, j, fp0 * fp0 // 65536 % 16384 AS h FROM pp0),
        |ph AS (SELECT pp.k, pp.key,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN (coalesce(filt.bits, 0) &
        |        (CAST(1 AS BIGINT) << CAST(pp.h % 32 AS INT))) <> 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS nh
        |  FROM pp LEFT JOIN filt
        |    ON filt.k = pp.k AND filt.w = pp.h // 32
        |  GROUP BY 1, 2),
        |pr AS (SELECT k, CAST(count(*) AS BIGINT) AS n_probes,
        |    CAST(sum(CASE WHEN nh = n THEN 1 ELSE 0 END) AS BIGINT)
        |      AS false_positives
        |  FROM ph GROUP BY 1),
        |nk AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM keys)
        |SELECT pr.k, nk.n_keys, nb.n_bits_set, pr.n_probes,
        |  pr.false_positives,
        |  pr.false_positives * 1000000 // pr.n_probes AS fpp_ppm
        |FROM pr JOIN nb USING (k), nk ORDER BY k""".stripMargin,

    // q280: the oracle is the DEFINITION — the O(n²) NOT-EXISTS
    // dominance relation; the staircase plan must reproduce it exactly
    // (including price-tied front points).
    "q280_skyline" ->
      """WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS partkey,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |    CAST(p_size AS BIGINT) AS size
        |  FROM part)
        |SELECT partkey, price_cents, size FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.price_cents <= a.price_cents AND b.size <= a.size
        |    AND (b.price_cents < a.price_cents OR b.size < a.size))
        |ORDER BY size, partkey""".stripMargin,

    // q281: the permuted copy signatures from the SAME canonical string
    // (name-sorted columns), so the oracle derives it from customer once;
    // the mutated copy shifts one cent at custkey 1.
    "q281_dataset_dedup" ->
      s"""WITH cv AS (SELECT
        |    CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR) || '|' ||
        |    CAST(CAST(c_custkey AS BIGINT) AS VARCHAR) || '|' ||
        |    c_name || '|' ||
        |    CAST(CAST(c_nationkey AS BIGINT) AS VARCHAR) AS v,
        |    CAST(CAST(round(c_acctbal * 100) AS BIGINT) +
        |      CASE WHEN c_custkey = 1 THEN 1 ELSE 0 END AS VARCHAR) || '|' ||
        |    CAST(CAST(c_custkey AS BIGINT) AS VARCHAR) || '|' ||
        |    c_name || '|' ||
        |    CAST(CAST(c_nationkey AS BIGINT) AS VARCHAR) AS vm
        |  FROM customer),
        |cf AS (SELECT
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(v, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(vm, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fpm
        |  FROM cv),
        |nf AS (SELECT
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(n_name || '|' ||
        |        CAST(CAST(n_nationkey AS BIGINT) AS VARCHAR) || '|' ||
        |        CAST(CAST(n_regionkey AS BIGINT) AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS fp
        |  FROM nation),
        |sigs AS (
        |  SELECT 'customer' AS dataset_id, CAST(count(*) AS BIGINT)
        |      AS n_rows, bit_xor(fp) AS sig_xor,
        |    CAST(sum(fp) AS BIGINT) AS sig_sum FROM cf
        |  UNION ALL SELECT 'customer_perm', CAST(count(*) AS BIGINT),
        |    bit_xor(fp), CAST(sum(fp) AS BIGINT) FROM cf
        |  UNION ALL SELECT 'customer_mut', CAST(count(*) AS BIGINT),
        |    bit_xor(fpm), CAST(sum(fpm) AS BIGINT) FROM cf
        |  UNION ALL SELECT 'nation', CAST(count(*) AS BIGINT),
        |    bit_xor(fp), CAST(sum(fp) AS BIGINT) FROM nf)
        |SELECT a.dataset_id, a.n_rows, a.sig_xor, a.sig_sum,
        |  min(b.dataset_id) AS dup_of
        |FROM sigs a JOIN sigs b ON a.n_rows = b.n_rows
        |  AND a.sig_xor = b.sig_xor AND a.sig_sum = b.sig_sum
        |GROUP BY 1, 2, 3, 4 ORDER BY a.dataset_id""".stripMargin,

    // q282: the register recipe (middle-square, trailing-zeros reg,
    // exact harmonic sum) replays verbatim; 281474976710656 = 2^48 =
    // m^2 * 2^32, 4294967296 = 2^32 (an empty register's term).
    "q282_hll_audit" ->
      s"""WITH src AS (
        |  SELECT 'orders_pk' AS est_id, CAST(o_orderkey AS BIGINT) AS v
        |    FROM orders
        |  UNION ALL SELECT 'lineitem_fk', CAST(l_orderkey AS BIGINT)
        |    FROM lineitem
        |  UNION ALL SELECT 'lineitem_pk', CAST(l_orderkey AS BIGINT) * 8
        |      + CAST(l_linenumber AS BIGINT)
        |    FROM lineitem),
        |h AS (SELECT est_id, v,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |       string_split(CAST(v AS VARCHAR), ''),
        |       c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) *
        |     list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |       string_split(CAST(v AS VARCHAR), ''),
        |       c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)) // 65536 AS hh
        |  FROM src),
        |regs AS (SELECT est_id, hh % 256 AS idx,
        |    CAST(max(least(bit_count(((hh // 256) & -(hh // 256)) - 1)
        |      + 1, 32)) AS BIGINT) AS reg
        |  FROM h GROUP BY 1, 2),
        |tsum AS (SELECT est_id,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(32 - reg AS INT))
        |      AS BIGINT) + (256 - count(*)) * 4294967296 AS t
        |  FROM regs GROUP BY 1),
        |ex AS (SELECT est_id, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
        |  FROM src GROUP BY 1)
        |SELECT ex.est_id, n_rows, n_distinct,
        |  718273 * (281474976710656 // t) // 1000000 AS hll_estimate,
        |  (718273 * (281474976710656 // t) // 1000000) * 1000000
        |    // n_distinct - 1000000 AS err_ppm
        |FROM ex JOIN tsum USING (est_id) ORDER BY est_id""".stripMargin,

    // q283: buckets hash the part-key TYPE (per-key count frame), so the
    // oracle rehashes only distinct keys; UNION (not ALL) mirrors
    // .distinct() on the probe legs.
    "q283_cms_audit" ->
      s"""WITH keys AS MATERIALIZED (
        |  SELECT CAST(l_partkey AS BIGINT) AS k,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1),
        |kb AS MATERIALIZED (
        |  SELECT k, n, i, (fp * fp // 65536) % 256 AS b
        |  FROM (SELECT k, n, i,
        |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(CAST(k AS VARCHAR) || ':' || CAST(i AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS fp
        |    FROM keys, (SELECT unnest([0, 1, 2, 3]) AS i) AS ii)),
        |sketch AS (SELECT i, b, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM kb GROUP BY 1, 2),
        |probes AS (
        |  SELECT k, n FROM (SELECT k, n FROM keys ORDER BY n DESC, k LIMIT 16)
        |  UNION
        |  SELECT k, n FROM (SELECT k, n FROM keys ORDER BY n ASC, k LIMIT 8)),
        |nt AS (SELECT CAST(sum(n) AS BIGINT) AS n_stream FROM keys),
        |est AS (SELECT p.k, p.n, min(s.cnt) AS cms_est
        |  FROM probes p JOIN kb ON kb.k = p.k
        |  JOIN sketch s ON s.i = kb.i AND s.b = kb.b
        |  GROUP BY 1, 2)
        |SELECT k AS partkey, n AS exact_n, cms_est, cms_est - n AS overcount,
        |  (cms_est - n) * 1000000 // n_stream AS over_ppm
        |FROM est, nt ORDER BY exact_n DESC, partkey""".stripMargin,

    // q310: first-match-exclusive routing; the accepted checksum pins
    // exact membership, not just counts.
    "q310_quarantine" ->
      s"""WITH feed AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    CAST(o_custkey AS BIGINT) AS ckey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  UNION ALL SELECT * FROM (VALUES
        |    (-741, NULL, 1000), (-701, 1, 2000), (-701, 1, 2100),
        |    (-751, -711, 3000), (-721, 2, -12345))
        |    AS t(okey, ckey, cents)),
        |dup AS (SELECT okey, count(*) AS m FROM feed GROUP BY 1),
        |r AS (SELECT f.okey, f.cents,
        |    CASE WHEN f.ckey IS NULL THEN '1_null_custkey'
        |      WHEN d.m > 1 THEN '2_dup_orderkey'
        |      WHEN c.c_custkey IS NULL THEN '3_fk_orphan'
        |      WHEN f.cents <= 0 THEN '4_nonpositive_amount'
        |      ELSE '5_accepted' END AS verdict
        |  FROM feed f JOIN dup d ON f.okey = d.okey
        |  LEFT JOIN customer c ON f.ckey = CAST(c.c_custkey AS BIGINT))
        |SELECT verdict, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(okey) AS min_key,
        |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(CAST(okey AS VARCHAR) || '|' ||
        |      CAST(cents AS VARCHAR), ''),
        |    x -> CAST(ascii(x) AS BIGINT))), $FpByteFold)) AS BIGINT)
        |    AS sum_fp
        |FROM r GROUP BY verdict ORDER BY verdict""".stripMargin,

    "q315_composition_raking" -> q315OracleSql,
    "q317_lsh_plan_exec" -> q317OracleSql,
    "q320_bpe_train" -> q320OracleSql,
    "q325_bpe_apply" -> q325OracleSql,
    "q326_merkle_diff" -> q326OracleSql,
    "q327_preference_pairs" -> q327OracleSql,
    "q328_bitext_mine" -> q328OracleSql,
    "q329_target_encoding" -> q329OracleSql,
    "q330_span_corruption" -> q330OracleSql,
    "q331_needle_plan" -> q331OracleSql,
    "q332_runs_test" -> q332OracleSql,
    "q333_group_folds" -> q333OracleSql,
    "q334_quality_classifier" -> q334OracleSql,
    "q335_bpe_encode_holdout" -> q335OracleSql,
    "q336_pq_recall" -> q336OracleSql,
    "q337_doremi_reweight" -> q337OracleSql,
    "q338_isotonic_calibration" -> q338OracleSql,
    "q339_curriculum_schedule" -> q339OracleSql,
    "q340_triplet_mining" -> q340OracleSql,
    "q341_nndescent_graph" -> q341OracleSql,
    "q342_jl_projection" -> q342OracleSql,
    "q343_batch_padding" -> q343OracleSql,
    "q344_bootstrap_ci" -> q344OracleSql,
    "q345_iclm_ordering" -> q345OracleSql,
    "q346_cuped_variance" -> q346OracleSql,
    "q347_graph_search" -> q347OracleSql,
    "q348_abtt_direction" -> q348OracleSql,
    "q349_suffix_strip" -> q349OracleSql,
    "q350_hill_tail" -> q350OracleSql,
    "q351_good_turing" ->
      """WITH t AS MATERIALIZED (SELECT lang, g, CAST(count(*) AS BIGINT)
        |    AS n
        |  FROM (SELECT lang, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
        |      AS g
        |    FROM (SELECT lang, ws,
        |        unnest(generate_series(1, len(ws) - 2)) AS i
        |      FROM (SELECT lang, string_split(text, ' ') AS ws
        |        FROM documents)))
        |  GROUP BY lang, g),
        |a AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |  FROM t GROUP BY lang)
        |SELECT lang, n_tokens, n_types, n1, n2, n3,
        |  n1 * 1000000 // n_tokens AS unseen_ppm,
        |  CASE WHEN n1 = 0 THEN CAST(0 AS BIGINT)
        |    ELSE 2 * n2 * 1000 // n1 END AS r1_star_milli
        |FROM a ORDER BY lang""".stripMargin,
    "q352_mann_kendall" -> q352OracleSql,
    "q353_filter_apply" -> q353OracleSql,
    "q354_label_prop" -> q354OracleSql,
    "q355_rel_quantiles" -> q355OracleSql,
    "q356_epoch_value" -> q356OracleSql,
    "q357_priority_sample" -> q357OracleSql,
    "q358_exact_auc" -> q358OracleSql,
    "q359_rendezvous" -> q359OracleSql,
    "q360_chao_richness" -> q360OracleSql,
    "q361_chi_features" -> q361OracleSql,
    "q362_psi_drift" -> q362OracleSql,
    "q363_sprt_gate" -> q363OracleSql,
    "q364_suffix_array" -> q364OracleSql,
    "q365_ivf_adc" -> q365OracleSql,
    "q366_byte_bpe" -> q366OracleSql,
    "q367_ensemble_filter" -> q367OracleSql,
    "q368_incremental_nnd" -> q368OracleSql,
    "q369_ams_f2" -> q369OracleSql,
    "q370_sa_strip" -> q370OracleSql,
    "q371_ivf_trained" -> q371OracleSql,
    "q372_byte_fallback" -> q372OracleSql,
    "q373_indomain_cut" -> q373OracleSql,
    "q374_ams_join_est" -> q374OracleSql,
    "q375_strip_residual" -> q375OracleSql,
    "q376_merge_budget" -> q376OracleSql,
    "q377_ivf_nprobe" -> q377OracleSql,
    "q378_kcore" -> q378OracleSql,
    "q379_label_shift" -> q379OracleSql,
    "q380_retract_ivm" -> q380OracleSql,
    "q381_neyman_alloc" -> q381OracleSql,
    "q382_patch_watermark" -> q382OracleSql,
    "q383_hamming_ann" -> q383OracleSql,
    "q384_bfs_distance" -> q384OracleSql,
    "q385_oph_dedup" -> q385OracleSql,
    "q386_randomized_response" -> q386OracleSql,
    "q387_ts_compression" -> q387OracleSql,
    "q388_signflip_test" -> q388OracleSql,
    "q389_median_cut" -> q389OracleSql,
    "q390_dimsum_cosine" -> q390OracleSql,
    "q391_coverage_select" -> q391OracleSql,
    "q392_conformal" -> q392OracleSql,
    "q393_counting_bloom" -> q393OracleSql,
    "q394_srm_check" -> q394OracleSql,
    "q395_incr_rank" -> q395OracleSql,
    "q396_seed_vocab" -> q396OracleSql,
    "q397_replay_eval" -> q397OracleSql,
    "q398_ips_eval" -> q398OracleSql,
    "q399_bh_fdr" -> q399OracleSql,
    "q400_mondrian" -> q400OracleSql,
    "q321_dsir_resample" -> q321OracleSql,
    "q323_ndcg_grade" -> q323OracleSql,

    // q324: the UniMax waterfall replays as a recursive CTE whose
    // accumulator is a lone BIGINT remaining-pool column (the banned
    // lane is struct accumulators in list lambdas, not recursion).
    "q324_unimax_budget" ->
      """WITH RECURSIVE
        |t AS MATERIALIZED (SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |w AS MATERIALIZED (SELECT lang, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS ws FROM t),
        |l AS MATERIALIZED (SELECT lang, n,
        |    ws * 1000000 // (SELECT CAST(sum(ws) AS BIGINT) FROM w)
        |      AS weight_ppm,
        |    CAST(row_number() OVER (ORDER BY n, lang) AS BIGINT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS m,
        |    2 * (SELECT CAST(sum(n) AS BIGINT) FROM t) AS budget
        |  FROM w),
        |wf AS (
        |  SELECT CAST(1 AS BIGINT) AS rk,
        |    2 * (SELECT CAST(sum(n) AS BIGINT) FROM t) AS rb
        |  UNION ALL
        |  SELECT wf.rk + 1,
        |    wf.rb - least(wf.rb // (l.m - l.rk + 1), 3 * l.n)
        |  FROM wf JOIN l ON l.rk = wf.rk),
        |a AS (SELECT l.lang, l.n, l.weight_ppm, l.budget,
        |    wf.rb // (l.m - l.rk + 1) AS share, 3 * l.n AS cap
        |  FROM l JOIN wf ON wf.rk = l.rk)
        |SELECT lang, n AS n_tokens, weight_ppm, cap AS cap_tokens,
        |  least(share, cap) AS budget_tokens,
        |  CASE WHEN cap <= share THEN CAST(1 AS BIGINT) ELSE 0 END AS capped,
        |  (least(share, cap) // n) * 1000
        |    + ((least(share, cap) % n) * 1000) // n AS epochs_permille,
        |  least(share, cap) * 1000 // budget AS share_permille
        |FROM a ORDER BY lang""".stripMargin,

    // q319: per-day KM step replayed as a packed n*1e6+d BIGINT list
    // fold (acc * (n-d) // n, 1e6 seed) — the identical truncating walk
    // the Spark driver runs over the calendar-bounded day frame.
    "q319_survival_km" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |hz AS (SELECT max(us) AS h FROM e),
        |s0 AS (SELECT user_id, min(us) AS t0 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |p0 AS (SELECT e.user_id, min(e.us) AS tp
        |  FROM e JOIN s0 ON s0.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.us >= s0.t0 GROUP BY 1),
        |ends AS (SELECT
        |    CASE WHEN p0.tp IS NOT NULL THEN (p0.tp - s0.t0) // 86400000000
        |      ELSE (hz.h - s0.t0) // 86400000000 END AS day,
        |    CAST(sum(CASE WHEN p0.tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_i,
        |    CAST(sum(CASE WHEN p0.tp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_i
        |  FROM s0 LEFT JOIN p0 USING (user_id), hz GROUP BY 1),
        |risk AS (SELECT day, d_i, c_i,
        |    CAST(sum(d_i + c_i) OVER (ORDER BY day DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |  FROM ends),
        |evd AS MATERIALIZED (SELECT day, n_risk, d_i, c_i FROM risk WHERE d_i > 0)
        |SELECT e1.day, e1.n_risk AS n_at_risk, e1.d_i AS n_events,
        |  e1.c_i AS n_censored,
        |  list_reduce(list_prepend(CAST(1000000 AS BIGINT),
        |    list(e2.n_risk * 1000000 + e2.d_i ORDER BY e2.day)),
        |    (a, x) -> a * (x // 1000000 - x % 1000000) // (x // 1000000))
        |    AS survival_ppm
        |FROM evd e1 JOIN evd e2 ON e2.day <= e1.day
        |GROUP BY e1.day, e1.n_risk, e1.d_i, e1.c_i
        |ORDER BY e1.day""".stripMargin,

    // q318: seeded geometric draws = trailing zeros of middle-square-
    // finalized fingerprints (q282's register idiom) — exact both sides.
    "q318_dp_mechanism" ->
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS true_count
        |  FROM documents GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM c),
        |f AS (SELECT source, true_count,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split('dp1:' || source, ''),
        |      ch -> CAST(ascii(ch) AS BIGINT))), $FpByteFold) AS fp1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split('dp2:' || source, ''),
        |      ch -> CAST(ascii(ch) AS BIGINT))), $FpByteFold) AS fp2
        |  FROM c),
        |w AS (SELECT source, true_count, fp1 * fp1 // 65536 AS w1,
        |    fp2 * fp2 // 65536 AS w2 FROM f),
        |g AS (SELECT source, true_count,
        |    CASE WHEN w1 = 0 THEN 0
        |      ELSE CAST(bit_count((w1 & (-w1)) - 1) AS BIGINT) END AS g1,
        |    CASE WHEN w2 = 0 THEN 0
        |      ELSE CAST(bit_count((w2 & (-w2)) - 1) AS BIGINT) END AS g2
        |  FROM w)
        |SELECT source, true_count, g1 - g2 AS noise,
        |  greatest(CAST(0 AS BIGINT), true_count + g1 - g2) AS released_count,
        |  abs(g1 - g2) AS abs_noise, CAST(693 AS BIGINT) AS eps_milli,
        |  693 * n.nr AS eps_total_milli
        |FROM g, n ORDER BY source""".stripMargin,

    // q316: file tiling by row_number over the unique okey; blooms use
    // q279's middle-square position recipe verbatim at m=4096, k=3.
    "q316_bloom_skipping" ->
      s"""WITH base AS MATERIALIZED (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    CAST(o_custkey AS BIGINT) AS ckey FROM orders),
        |f AS MATERIALIZED (SELECT ckey,
        |    (CAST(row_number() OVER (ORDER BY okey) AS BIGINT) - 1) * 64
        |      // CAST(count(*) OVER () AS BIGINT) AS file
        |  FROM base),
        |zones AS (SELECT file, min(ckey) AS mn, max(ckey) AS mx
        |  FROM f GROUP BY 1),
        |js AS (SELECT unnest(generate_series(CAST(0 AS BIGINT),
        |    CAST(2 AS BIGINT))) AS j),
        |bp0 AS (SELECT fc.file, fc.ckey, js.j,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(CAST(fc.ckey AS VARCHAR) || ':' ||
        |        CAST(js.j AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS fp0
        |  FROM (SELECT DISTINCT file, ckey FROM f) fc, js),
        |bp AS MATERIALIZED (SELECT file, h // 32 AS w,
        |    bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits
        |  FROM (SELECT file, fp0 * fp0 // 65536 % 4096 AS h FROM bp0)
        |  GROUP BY 1, 2),
        |probes AS MATERIALIZED (
        |  SELECT DISTINCT ckey AS probe, CAST(1 AS BIGINT) AS present
        |  FROM base WHERE ckey % 61 = 17
        |  UNION ALL
        |  SELECT DISTINCT ckey + 10000000, CAST(0 AS BIGINT)
        |  FROM base WHERE ckey % 61 = 17),
        |truth AS (SELECT p.probe, CAST(count(DISTINCT f.file) AS BIGINT) AS n_true
        |  FROM probes p JOIN f ON f.ckey = p.probe GROUP BY 1),
        |mm AS (SELECT p.probe, CAST(count(*) AS BIGINT) AS n_minmax
        |  FROM probes p JOIN zones z ON p.probe BETWEEN z.mn AND z.mx
        |  GROUP BY 1),
        |pp0 AS (SELECT p.probe, js.j,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(CAST(p.probe AS VARCHAR) || ':' ||
        |        CAST(js.j AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS fp0
        |  FROM probes p, js),
        |pp AS (SELECT probe, fp0 * fp0 // 65536 % 4096 AS h FROM pp0),
        |bh AS (SELECT probe, file FROM (
        |    SELECT pp.probe, bp.file, count(*) AS nh
        |    FROM pp JOIN bp ON bp.w = pp.h // 32
        |    WHERE (bp.bits & (CAST(1 AS BIGINT) << CAST(pp.h % 32 AS INT))) <> 0
        |    GROUP BY 1, 2) WHERE nh = 3),
        |bl AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_bloom
        |  FROM bh GROUP BY 1)
        |SELECT p.probe AS probe_key, p.present,
        |  coalesce(t.n_true, 0) AS n_files_true,
        |  coalesce(mm.n_minmax, 0) AS n_files_minmax,
        |  coalesce(bl.n_bloom, 0) AS n_files_bloom
        |FROM probes p LEFT JOIN truth t ON t.probe = p.probe
        |LEFT JOIN mm ON mm.probe = p.probe
        |LEFT JOIN bl ON bl.probe = p.probe
        |ORDER BY probe_key""".stripMargin,

    // q314: the S-curve planner replays in pure integer multiply-
    // truncate (a*v // 1e6 folds — no IEEE pow); density = q213's
    // deterministic sample + exact 3-gram Jaccard in 50 2%-bands.
    "q314_lsh_plan" ->
      raw"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |    WHERE len(string_split(text, ' ')) >= 3
        |      AND doc_id % greatest(1, (SELECT count(*) FROM documents) // 500) = 0),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
        |hs AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(shingles,
        |         s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |           $FpByteFold))) AS ss FROM sh),
        |pairs AS (SELECT len(list_intersect(a.ss, b.ss)) AS inter_n,
        |    len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) AS union_n
        |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id),
        |hist AS MATERIALIZED (SELECT
        |    least(49, CAST(inter_n AS BIGINT) * 1000000 // union_n // 20000) AS band,
        |    CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1),
        |bands AS (SELECT CAST(x AS BIGINT) AS band FROM generate_series(0, 49) t(x)),
        |wts AS MATERIALIZED (SELECT b.band, coalesce(h.n, 0) + 1 AS w,
        |    b.band * 20000 + 10000 AS mid
        |  FROM bands b LEFT JOIN hist h ON h.band = b.band),
        |plans AS (SELECT CAST(nb AS BIGINT) AS n_bands,
        |    CAST(rp AS BIGINT) AS rows_per_band
        |  FROM (VALUES (1,48),(2,24),(3,16),(4,12),(6,8),(8,6),(12,4),(16,3),(24,2),(48,1)) v(nb, rp)),
        |curve AS (SELECT p.n_bands, p.rows_per_band, w.band, w.w, w.mid,
        |    1000000 - list_reduce(list_prepend(CAST(1000000 AS BIGINT),
        |        list_transform(generate_series(1, p.n_bands),
        |          x -> 1000000 - list_reduce(list_prepend(CAST(1000000 AS BIGINT),
        |            list_transform(generate_series(1, p.rows_per_band), y -> w.mid)),
        |            (a, v) -> a * v // 1000000))),
        |      (a, v) -> a * v // 1000000) AS pcoll
        |  FROM plans p CROSS JOIN wts w),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM wts),
        |sc AS (SELECT n_bands, rows_per_band,
        |    CAST(sum(CASE WHEN mid < 800000 THEN w * pcoll ELSE 0 END) AS BIGINT) // wt AS fp_ppm,
        |    CAST(sum(CASE WHEN mid >= 800000 THEN w * (1000000 - pcoll) ELSE 0 END) AS BIGINT) // wt AS fn_ppm
        |  FROM curve, tot GROUP BY n_bands, rows_per_band, wt)
        |SELECT n_bands, rows_per_band, fp_ppm, fn_ppm,
        |  fp_ppm + fn_ppm AS total_err_ppm,
        |  CAST(CASE WHEN fp_ppm + fn_ppm = min(fp_ppm + fn_ppm) OVER ()
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_best
        |FROM sc ORDER BY n_bands""".stripMargin,

    // q313: line-granular loss masks — flags are the q81/q246/q259/q267
    // detector definitions verbatim; adjacent masked lines coalesce via
    // gaps-and-islands; spans_fp replays the ordered 'start-end' list and
    // kept_fp the mask-applied text.
    "q313_loss_masks" ->
      raw"""WITH base AS (SELECT doc_id, source, coalesce(text, '') ||
        |    chr(10) || '(C) ' || source || ' syndication network' ||
        |    CASE WHEN (doc_id % 3 + 3) % 3 <> 2
        |      THEN chr(10) || 'subscribe at ' || source || ' daily digest'
        |      ELSE '' END ||
        |    chr(10) || 'section ' || CAST((doc_id % 7 + 7) % 7 AS VARCHAR) || ' notes' ||
        |    CASE WHEN (doc_id % 5 + 5) % 5 = 1
        |      THEN chr(10) || 'reach me at user' ||
        |        CAST((doc_id % 1000 + 1000) % 1000 AS VARCHAR) || '@example.com'
        |    WHEN (doc_id % 5 + 5) % 5 = 2
        |      THEN chr(10) || 'token=secretvaluepad' ||
        |        lpad(CAST((doc_id % 1000 + 1000) % 1000 AS VARCHAR), 3, '0')
        |    WHEN (doc_id % 5 + 5) % 5 = 3
        |      THEN chr(10) || 'stop <|endoftext|> marker ' ||
        |        CAST((doc_id % 7 + 7) % 7 AS VARCHAR)
        |    WHEN (doc_id % 5 + 5) % 5 = 4
        |      THEN chr(10) || 'reach me at user' ||
        |        CAST((doc_id % 1000 + 1000) % 1000 AS VARCHAR) || '@example.com' ||
        |        chr(10) || 'token=secretvaluepad' ||
        |        lpad(CAST((doc_id % 1000 + 1000) % 1000 AS VARCHAR), 3, '0')
        |    ELSE '' END AS t2
        |  FROM documents),
        |arr AS (SELECT doc_id, source, string_split(t2, chr(10)) AS a FROM base),
        |l2 AS MATERIALIZED (SELECT doc_id, source, pos,
        |    a[CAST(pos AS INT) + 1] AS ln
        |  FROM (SELECT doc_id, source, a,
        |      unnest(generate_series(CAST(0 AS BIGINT),
        |        CAST(len(a) - 1 AS BIGINT))) AS pos
        |    FROM arr)),
        |srcn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |boiler AS (SELECT f.source, f.ln
        |  FROM (SELECT source, ln, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM l2 GROUP BY 1, 2) f
        |  JOIN srcn USING (source)
        |  WHERE df >= 2 AND df * 1000000 // n_docs >= 200000),
        |fl AS (SELECT l.doc_id, l.pos, l.ln,
        |    CASE WHEN b.ln IS NOT NULL THEN 1 ELSE 0 END AS is_boiler,
        |    CASE WHEN regexp_matches(l.ln, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
        |      OR regexp_matches(l.ln, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')
        |      OR regexp_matches(l.ln, '\d{6,}') THEN 1 ELSE 0 END AS is_pii,
        |    CASE WHEN regexp_matches(l.ln, '[0-9a-f]{32,}')
        |      OR regexp_matches(l.ln, 'AKIA[0-9A-Z]{16}')
        |      OR regexp_matches(l.ln, '(?i)(?:api_key|secret|token|password)=[A-Za-z0-9+/_-]{16,}')
        |      THEN 1 ELSE 0 END AS is_secret,
        |    CASE WHEN regexp_matches(l.ln, '<[|][a-z_]+[|]>')
        |      OR regexp_matches(l.ln, '\[/?INST\]|<</?SYS>>')
        |      OR regexp_matches(l.ln, '<fim_[a-z]+>')
        |      THEN 1 ELSE 0 END AS is_special
        |  FROM l2 l LEFT JOIN boiler b ON l.source = b.source AND l.ln = b.ln),
        |m AS (SELECT *, CASE WHEN is_boiler + is_pii + is_secret + is_special > 0
        |    THEN 1 ELSE 0 END AS masked FROM fl),
        |off0 AS (SELECT *, CAST(coalesce(sum(length(ln) + 1) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
        |  FROM m),
        |off AS MATERIALIZED (SELECT *, st + length(ln) AS en FROM off0),
        |isl AS (SELECT *, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM off WHERE masked = 1),
        |sp AS (SELECT doc_id, grp, min(st) AS sp_start, max(en) AS sp_end
        |  FROM isl GROUP BY 1, 2),
        |spa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(sp_end - sp_start) AS BIGINT) AS masked_chars,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(string_agg(CAST(sp_start AS VARCHAR) || '-' ||
        |        CAST(sp_end AS VARCHAR), ',' ORDER BY sp_start), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS spans_fp
        |  FROM sp GROUP BY 1),
        |da AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(masked) AS BIGINT) AS n_masked_lines,
        |    CAST(sum(is_pii) AS BIGINT) AS n_pii_lines,
        |    CAST(sum(is_secret) AS BIGINT) AS n_secret_lines,
        |    CAST(sum(is_special) AS BIGINT) AS n_special_lines,
        |    CAST(sum(is_boiler) AS BIGINT) AS n_boiler_lines,
        |    CAST(sum(length(ln)) + count(*) - 1 AS BIGINT) AS total_chars,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(coalesce(string_agg(CASE WHEN masked = 0 THEN ln END,
        |        chr(10) ORDER BY pos), ''), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS kept_fp
        |  FROM off GROUP BY 1)
        |SELECT da.doc_id, n_lines, n_masked_lines,
        |  coalesce(n_spans, 0) AS n_spans,
        |  coalesce(masked_chars, 0) AS masked_chars, total_chars,
        |  coalesce(masked_chars, 0) * 1000000 // total_chars AS mask_ppm,
        |  n_pii_lines, n_secret_lines, n_special_lines, n_boiler_lines,
        |  coalesce(spans_fp, 0) AS spans_fp, kept_fp
        |FROM da LEFT JOIN spa USING (doc_id) ORDER BY da.doc_id""".stripMargin,

    // q312: the deterministic MRL/KLL compactor replays exactly — per
    // bucket b (id mod 64), level L_b = bitlen((n_b-1)//128) keeps value-
    // ranks ≡ 1 (mod 2^L_b) with tail-exact weights; estimates read the
    // first cumulative weight >= d*n/10 + 1; bound = Σ 2^L_b.
    "q312_kll_quantiles" ->
      """WITH base AS MATERIALIZED (SELECT
        |    CAST(l_orderkey AS BIGINT) * 8 + CAST(l_linenumber AS BIGINT) AS id,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |bk AS MATERIALIZED (SELECT *, id % 64 AS b FROM base),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY b ORDER BY cents, id) AS BIGINT) AS br FROM bk),
        |c AS (SELECT b, CAST(count(*) AS BIGINT) AS n_b FROM bk GROUP BY b),
        |lv AS MATERIALIZED (SELECT b, n_b, CASE WHEN n_b <= 128 THEN CAST(1 AS BIGINT)
        |      ELSE (CAST(1 AS BIGINT) << CAST(length(bin((n_b - 1) // 128)) AS INT)) END AS pow2
        |  FROM c),
        |kept AS (SELECT r.cents, r.id, least(lv.pow2, lv.n_b - r.br + 1) AS w
        |  FROM r JOIN lv ON r.b = lv.b WHERE (r.br - 1) % lv.pow2 = 0),
        |cum AS (SELECT *, CAST(sum(w) OVER (ORDER BY cents, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw FROM kept),
        |g AS MATERIALIZED (SELECT cents, id,
        |    CAST(row_number() OVER (ORDER BY cents, id) AS BIGINT) AS rn FROM base),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |bd AS (SELECT CAST(sum(pow2) AS BIGINT) AS bound FROM lv),
        |t AS MATERIALIZED (SELECT CAST(d AS BIGINT) AS decile,
        |    (CAST(d AS BIGINT) * n) // 10 + 1 AS target_rank, n
        |  FROM generate_series(1, 9) s(d), nn),
        |es AS (SELECT t.decile, t.target_rank, t.n,
        |    arg_min(k.cents, k.cumw) AS sketch_cents,
        |    arg_min(k.id, k.cumw) AS est_id
        |  FROM t JOIN cum k ON k.cumw >= t.target_rank
        |  GROUP BY t.decile, t.target_rank, t.n),
        |ex AS (SELECT t2.decile, g.cents AS exact_cents
        |  FROM t t2 JOIN g ON g.rn = t2.target_rank),
        |er AS (SELECT es.decile, min(g.rn) AS est_rank
        |  FROM es JOIN g ON g.id = es.est_id AND g.cents = es.sketch_cents
        |  GROUP BY es.decile)
        |SELECT es.decile, ex.exact_cents, es.sketch_cents, es.target_rank,
        |  er.est_rank, er.est_rank - es.target_rank AS err_rank,
        |  abs(er.est_rank - es.target_rank) * 1000000 // es.n AS abs_err_ppm,
        |  bd.bound * 1000000 // es.n AS bound_ppm,
        |  CAST(CASE WHEN abs(er.est_rank - es.target_rank) <= bd.bound
        |    THEN 1 ELSE 0 END AS BIGINT) AS within_bound
        |FROM es JOIN ex ON ex.decile = es.decile
        |JOIN er ON er.decile = es.decile, bd
        |ORDER BY es.decile""".stripMargin,

    // q311: conversations = q54's 30-min gap sessions over events ∪ the
    // ChatPlant VALUES rows; transcript_fp replays the ORDERED role-
    // tagged transcript via string_agg(ORDER BY us, event_id) + the
    // byte-exact fold; detectors are the q81/q246 regexes verbatim.
    "q311_chat_contracts" ->
      raw"""WITH base AS (SELECT CAST(event_id AS BIGINT) AS event_id,
        |    CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS us,
        |    event_type, props FROM events
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(-70101 AS BIGINT), CAST(-701 AS BIGINT), CAST(1000000 AS BIGINT), 'view', '{"q": 1}'),
        |    (-70102, -701, 2000000, 'purchase', '{"a": 1}'),
        |    (-70103, -701, 3000000, 'click', '{"q": 2}'),
        |    (-70104, -701, 4000000, 'purchase', '{"a": 2}'),
        |    (-70201, -702, 1000000, 'view', 'hello'),
        |    (-70202, -702, 2000000, 'click', 'are you there'),
        |    (-70203, -702, 3000000, 'purchase', 'reply'),
        |    (-70301, -703, 1000000, 'view', 'hi'),
        |    (-70302, -703, 2000000, 'purchase', ''),
        |    (-70401, -704, 1000000, 'purchase', 'unprompted greeting'),
        |    (-70402, -704, 2000000, 'view', 'question'),
        |    (-70403, -704, 3000000, 'purchase', 'answer'),
        |    (-70501, -705, 1000000, 'view', 'contact me at alice@example.com'),
        |    (-70502, -705, 2000000, 'purchase', 'ok will do'),
        |    (-70503, -705, 3000000, 'click', 'still there'),
        |    (-70601, -706, 1000000, 'view', 'use token=abcdefghijklmnop1234'),
        |    (-70602, -706, 2000000, 'purchase', 'done'),
        |    (-70603, -706, 2002000000, 'view', 'new chat'))
        |    AS p(event_id, user_id, us, event_type, props)),
        |r AS (SELECT event_id, user_id, us,
        |    CASE WHEN event_type = 'purchase' THEN 'assistant'
        |         WHEN event_type = 'error' THEN 'system'
        |         ELSE 'user' END AS role,
        |    coalesce(props, '') AS t
        |  FROM base),
        |f AS (SELECT *,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_sess,
        |    CASE WHEN lead(us) OVER w IS NULL OR lead(us) OVER w - us > 1800000000
        |      THEN 1 ELSE 0 END AS is_tail,
        |    lag(role) OVER w AS prev_role
        |  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS conv_idx FROM f),
        |a AS (SELECT user_id, conv_idx,
        |    CAST(count(*) AS BIGINT) AS n_turns,
        |    CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user_turns,
        |    CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant_turns,
        |    CAST(sum(CASE WHEN role = 'system' THEN 1 ELSE 0 END) AS BIGINT) AS n_system_turns,
        |    CAST(sum(CASE WHEN new_sess = 0 AND prev_role = role THEN 1 ELSE 0 END) AS BIGINT) AS n_same_role_pairs,
        |    CAST(max(CASE WHEN new_sess = 1 AND role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS opener_bad,
        |    CAST(max(CASE WHEN is_tail = 1 AND role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS dangling_tail,
        |    CAST(sum(CASE WHEN trim(t) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_turns,
        |    CAST(sum(CASE WHEN regexp_matches(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
        |      OR regexp_matches(t, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')
        |      OR regexp_matches(t, '\d{6,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_turns,
        |    CAST(sum(CASE WHEN regexp_matches(t, '[0-9a-f]{32,}')
        |      OR regexp_matches(t, 'AKIA[0-9A-Z]{16}')
        |      OR regexp_matches(t, '(?i)(?:api_key|secret|token|password)=[A-Za-z0-9+/_-]{16,}')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_secret_turns,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(string_agg(role || ':' || t, chr(10) ORDER BY us, event_id), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS transcript_fp
        |  FROM g GROUP BY user_id, conv_idx)
        |SELECT *, CAST(CASE WHEN n_same_role_pairs + opener_bad + dangling_tail
        |    + n_empty_turns + n_pii_turns + n_secret_turns = 0
        |  THEN 1 ELSE 0 END AS BIGINT) AS contract_ok
        |FROM a ORDER BY user_id, conv_idx""".stripMargin,

    // q309: latest-version = max (tx, v) per okey; the three as-of legs
    // replay via row_number within each tx horizon.
    "q309_bitemporal" ->
      """WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderstatus AS status,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |versions AS MATERIALIZED (
        |  SELECT okey, status, cents, okey % 3 AS tx, 0 AS v FROM base
        |  UNION ALL SELECT okey, status, cents + 100, 2, 1 FROM base
        |  WHERE okey % 10 = 0),
        |ts AS (SELECT CAST(unnest(generate_series(0, 2)) AS BIGINT) AS t),
        |latest AS (SELECT ts.t, v.okey, v.status, v.cents,
        |    row_number() OVER (PARTITION BY ts.t, v.okey
        |      ORDER BY v.tx DESC, v.v DESC) AS rn
        |  FROM ts JOIN versions v ON v.tx <= ts.t)
        |SELECT t AS as_known_at, status,
        |  CAST(count(*) AS BIGINT) AS n_orders_known,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM latest WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY as_known_at, status""".stripMargin,

    // q308: generated from the SAME valid-order enumeration — see
    // q308OracleSql; cardinalities are independent DuckDB join counts.
    "q308_join_order" -> q308OracleSql,

    // q307: survivorship rules replay field-by-field — name lexicographic
    // min, balance max, segment from the master source.
    "q307_survivorship" ->
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS nm,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    c_mktsegment AS seg
        |  FROM customer WHERE CAST(c_custkey AS BIGINT) % 50 = 3),
        |members AS (
        |  SELECT k AS entity, 'master' AS src, nm, cents, seg FROM cust
        |  UNION ALL SELECT k, 'import',
        |    substring(nm, 1, 8) || 'X' || substring(nm, 10),
        |    cents + 7, seg FROM cust)
        |SELECT entity, CAST(count(*) AS BIGINT) AS n_members,
        |  min(nm) AS golden_name,
        |  max(cents) AS golden_cents,
        |  max(CASE WHEN src = 'master' THEN seg END) AS golden_segment,
        |  CAST(CASE WHEN count(DISTINCT nm) > 1 THEN 1 ELSE 0 END
        |    + CASE WHEN count(DISTINCT cents) > 1 THEN 1 ELSE 0 END
        |    + CASE WHEN count(DISTINCT seg) > 1 THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_field_conflicts
        |FROM members GROUP BY entity ORDER BY entity""".stripMargin,

    // q306: generated 5-level greedy chain — see q306OracleSql.
    "q306_mmr_rerank" -> q306OracleSql,

    // q305: both legs rank deterministically (score desc/d2 asc, id);
    // RRF consumes only ranks so no score calibration crosses engines.
    "q305_hybrid_rrf" -> q305OracleSql,

    // q304: survivors of the global top-10 sorted by the SAME distance
    // are a prefix of the true same-label list, so recall =
    // min(3, survivors)/3 — the structural fact both legs share.
    "q304_filtered_ann" ->
      """WITH e AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS q_id, label AS q_label, q AS qv FROM e
        |  WHERE vec_id < 10),
        |sc AS (SELECT qs.q_id, qs.q_label, e.vec_id, e.label,
        |    CAST(list_sum(list_transform(generate_series(1, len(e.q)),
        |      i -> (e.q[i] - qs.qv[i]) * (e.q[i] - qs.qv[i])))
        |      AS BIGINT) AS d2
        |  FROM e CROSS JOIN qs WHERE e.vec_id >= 10),
        |rk AS (SELECT q_id, q_label, label,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id)
        |      AS BIGINT) AS rk_all
        |  FROM sc)
        |SELECT q_id, q_label AS label,
        |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_same_in_top10,
        |  least(CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
        |    AS BIGINT), 3) AS n_hits,
        |  least(CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
        |    AS BIGINT), 3) * 1000000 // 3 AS recall_ppm
        |FROM rk WHERE rk_all <= 10
        |GROUP BY 1, 2 ORDER BY q_id""".stripMargin,

    // q303: the oracle replays the generator + patch math as pure
    // arithmetic (no codec — q222's contract: Spark's leg went through a
    // REAL PNG encode/decode, so any codec bug breaks this equality).
    "q303_patch_audit" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    16 + doc_id % 9 AS h FROM documents),
        |cells AS (SELECT doc_id, w, h, pi, pj, dx, dy
        |  FROM d,
        |    (SELECT unnest(generate_series(0, 3)) AS pi) a,
        |    (SELECT unnest(generate_series(0, 3)) AS pj) b,
        |    (SELECT unnest(generate_series(0, 7)) AS dx) c,
        |    (SELECT unnest(generate_series(0, 7)) AS dy) e
        |  WHERE pi < w // 8 AND pj < h // 8),
        |g AS (SELECT doc_id, w, h, pi, pj,
        |    CASE WHEN doc_id % 5 = 0 AND pi = 0 AND pj = 0 THEN 128
        |      ELSE (doc_id + 31 * (pi * 8 + dx) + 17 * (pj * 8 + dy)) % 256
        |      END AS g
        |  FROM cells),
        |pp AS (SELECT doc_id, w, h, pi, pj,
        |    CAST(sum(g) AS BIGINT) AS sg,
        |    CAST(sum(g * g) AS BIGINT) AS sg2
        |  FROM g GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(count(*) AS BIGINT) AS n_patches,
        |  CAST(sum(CASE WHEN 64 * sg2 - sg * sg = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flat,
        |  CAST(sum(64 * sg2 - sg * sg) AS BIGINT) AS var_checksum,
        |  CAST(sum(sg) AS BIGINT) AS pix_sum
        |FROM pp GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,

    // q302: pair slopes order by the IEEE quotient with a (dy, dx)
    // tiebreak; the lower-median rank is (m-1)//2 + 1; slope and OLS
    // report as truncated integer milli-slopes.
    "q302_theil_sen" ->
      """WITH daily AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT)
        |    AS day, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |px AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS idx, n FROM daily),
        |sx AS MATERIALIZED (
        |  SELECT '1_clean' AS series, idx, n + 4 * idx AS x FROM px
        |  UNION ALL SELECT '2_corrupted', idx,
        |    CASE WHEN idx = 10 THEN (n + 4 * idx) * 10
        |      ELSE n + 4 * idx END FROM px),
        |pairs AS (SELECT a.series, b.x - a.x AS dy, b.idx - a.idx AS dx
        |  FROM sx a JOIN sx b ON a.series = b.series AND b.idx > a.idx),
        |rk AS (SELECT series, dy, dx,
        |    CAST(row_number() OVER (PARTITION BY series
        |      ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx) AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS m
        |  FROM pairs),
        |ts AS (SELECT series, 'theil_sen' AS estimator,
        |    dy * 1000 // dx AS slope_milli
        |  FROM rk WHERE r = (m - 1) // 2 + 1),
        |ol AS (SELECT series, 'ols' AS estimator,
        |    (nd * six - si * sx) * 1000 // (nd * si2 - si * si)
        |      AS slope_milli
        |  FROM (SELECT series, CAST(count(*) AS BIGINT) AS nd,
        |      CAST(sum(idx) AS BIGINT) AS si,
        |      CAST(sum(idx * idx) AS BIGINT) AS si2,
        |      CAST(sum(x) AS BIGINT) AS sx,
        |      CAST(sum(idx * x) AS BIGINT) AS six
        |    FROM sx GROUP BY 1))
        |SELECT series, estimator, slope_milli FROM ts
        |UNION ALL SELECT series, estimator, slope_milli FROM ol
        |ORDER BY series, estimator""".stripMargin,

    // q301: the Benford expectations are the fixed integer table
    // floor(log10(1+1/d)·1e6) — constants, not computed logs.
    "q301_benford_audit" ->
      """WITH ben AS (SELECT * FROM (VALUES
        |    (1, 301029), (2, 176091), (3, 124938), (4, 96910), (5, 79181),
        |    (6, 66946), (7, 57991), (8, 51152), (9, 45757))
        |  AS t(digit, benford_ppm)),
        |v AS (SELECT 'orders_totalprice' AS scope,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
        |  UNION ALL SELECT 'lineitem_extendedprice',
        |    CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem),
        |d AS (SELECT scope,
        |    CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM v),
        |g AS MATERIALIZED (SELECT scope, digit,
        |    CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
        |t AS (SELECT scope, CAST(sum(n) AS BIGINT) AS total
        |  FROM g GROUP BY 1)
        |SELECT t.scope, CAST(ben.digit AS BIGINT) AS digit,
        |  coalesce(g.n, 0) AS n,
        |  coalesce(g.n, 0) * 1000000 // t.total AS observed_ppm,
        |  CAST(ben.benford_ppm AS BIGINT) AS benford_ppm,
        |  abs(coalesce(g.n, 0) * 1000000 // t.total - ben.benford_ppm)
        |    AS abs_dev_ppm
        |FROM t CROSS JOIN ben
        |LEFT JOIN g ON g.scope = t.scope AND g.digit = ben.digit
        |ORDER BY t.scope, ben.digit""".stripMargin,

    // q300: N-scaled deviations keep the arithmetic division-free until
    // the final ppm; signed // truncates toward zero on both engines.
    "q300_autocorrelation" ->
      """WITH daily AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT)
        |    AS day, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |px AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS idx,
        |    CASE WHEN day % 7 = 3 THEN 2 * n ELSE n END AS x
        |  FROM daily),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(x) AS BIGINT) AS s FROM px),
        |dv AS MATERIALIZED (SELECT idx, nd * x - s AS d FROM px, st),
        |den AS (SELECT CAST(sum(d * d) AS BIGINT) AS den FROM dv),
        |ks AS (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS lag),
        |num AS (SELECT ks.lag,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(a.d * b.d) AS BIGINT) AS num
        |  FROM ks JOIN dv a ON true JOIN dv b ON b.idx = a.idx + ks.lag
        |  GROUP BY ks.lag)
        |SELECT lag, n_pairs, num * 1000000 // den.den AS autocorr_ppm
        |FROM num, den ORDER BY lag""".stripMargin,

    // q299: open intervals close at the horizon (global max valid_from);
    // twa = Σ price·days div Σ days — time-weighted, all integer.
    "q299_time_in_state" ->
      """WITH d AS (SELECT o_custkey,
        |    CAST(o_orderdate AS DATE) AS valid_from,
        |    lead(CAST(o_orderdate AS DATE)) OVER w AS valid_to,
        |    o_orderstatus AS status,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY CAST(o_orderdate AS DATE), o_orderkey)),
        |h AS (SELECT max(valid_from) AS h FROM d),
        |e AS (SELECT status, price_cents,
        |    CAST(date_diff('day', valid_from, coalesce(valid_to, h.h))
        |      AS BIGINT) AS days
        |  FROM d, h),
        |g AS MATERIALIZED (SELECT status,
        |    CAST(count(*) AS BIGINT) AS n_intervals,
        |    CAST(sum(days) AS BIGINT) AS total_days,
        |    CAST(sum(price_cents * days) AS BIGINT) AS cent_days
        |  FROM e GROUP BY status),
        |t AS (SELECT CAST(sum(total_days) AS BIGINT) AS all_days FROM g)
        |SELECT status, n_intervals, total_days,
        |  total_days * 1000000 // all_days AS share_ppm,
        |  CASE WHEN total_days > 0 THEN cent_days // total_days
        |    ELSE -1 END AS twa_price_cents
        |FROM g, t ORDER BY status""".stripMargin,

    // q298: the oracle answers the SAME phrases by direct trigram scan —
    // no index — so the engines agree only if the positional index is
    // faithful; sum over DISTINCT docs mirrors sum_distinct.
    "q298_phrase_search" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |x AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, len(ws) - 2)) AS i FROM w),
        |g AS MATERIALIZED (SELECT doc_id,
        |    ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS t FROM x),
        |top3 AS (SELECT t FROM (SELECT t, count(*) AS n FROM g GROUP BY t
        |  ORDER BY n DESC, t LIMIT 3))
        |SELECT g.t AS phrase, CAST(count(DISTINCT g.doc_id) AS BIGINT)
        |    AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(sum(DISTINCT g.doc_id) AS BIGINT) AS sum_doc_ids
        |FROM g JOIN top3 ON g.t = top3.t
        |GROUP BY g.t ORDER BY phrase""".stripMargin,

    // q297: the oracle replays the identical ladder/stop rule — the
    // per-depth candidate ranking decides dpick, and the top-10 is read
    // from the SEEN set at dpick, so a wrong stop cannot hash-match.
    "q297_threshold_topk" ->
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS s1,
        |    coalesce(o.s2, 0) AS s2
        |  FROM customer LEFT JOIN (SELECT CAST(o_custkey AS BIGINT) AS ck,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |        AS BIGINT) AS s2
        |    FROM orders GROUP BY 1) o ON CAST(c_custkey AS BIGINT) = o.ck),
        |rr AS MATERIALIZED (SELECT k, s1, s2, s1 + s2 AS score,
        |    CAST(row_number() OVER (ORDER BY s1 DESC, k) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY s2 DESC, k) AS BIGINT) AS r2
        |  FROM base),
        |nn AS (SELECT least(CAST(count(*) AS BIGINT), 1024) AS n FROM rr),
        |ds AS (SELECT DISTINCT least(CAST(unnest(
        |    [8, 16, 32, 64, 128, 256, 512, 1024]) AS BIGINT), n) AS d
        |  FROM nn),
        |th AS (SELECT ds.d,
        |    (SELECT s1 FROM rr WHERE r1 = ds.d)
        |      + (SELECT s2 FROM rr WHERE r2 = ds.d) AS t
        |  FROM ds),
        |j AS MATERIALIZED (SELECT ds.d, rr.score, rr.k,
        |    CAST(row_number() OVER (PARTITION BY ds.d
        |      ORDER BY rr.score DESC, rr.k) AS BIGINT) AS rnk
        |  FROM ds JOIN rr ON least(rr.r1, rr.r2) <= ds.d),
        |q AS (SELECT j.d, max(CASE WHEN rnk = 10 THEN score END) AS k10,
        |    CAST(count(*) AS BIGINT) AS nseen
        |  FROM j GROUP BY j.d),
        |pick AS (SELECT coalesce(min(q.d), (SELECT n FROM nn)) AS dpick
        |  FROM q JOIN th ON q.d = th.d
        |  WHERE q.nseen >= 10 AND q.k10 >= th.t)
        |SELECT j.rnk AS rank, j.k AS custkey, j.score,
        |  pick.dpick AS ta_depth, q.nseen AS n_seen
        |FROM j, pick, q
        |WHERE j.d = pick.dpick AND q.d = pick.dpick AND j.rnk <= 10
        |ORDER BY rank""".stripMargin,

    // q296: transitions under the write order are stable because ties
    // in ALL five projected columns are full duplicates of the
    // projection; size models: plain n·w, dict n·c + ndv·w,
    // rle runs·(c+16) + ndv·w (16-bit run lengths).
    "q296_encoding_advisor" ->
      """WITH b AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |    CAST(l_linenumber AS BIGINT) AS line,
        |    CAST(l_partkey AS BIGINT) AS partkey,
        |    CAST(ascii(l_returnflag) AS BIGINT) AS rfc,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS day
        |  FROM lineitem),
        |r AS (SELECT okey, line, partkey, rfc, day,
        |    CASE WHEN okey <> lag(okey) OVER w THEN 1 ELSE 0 END AS t1,
        |    CASE WHEN line <> lag(line) OVER w THEN 1 ELSE 0 END AS t2,
        |    CASE WHEN partkey <> lag(partkey) OVER w THEN 1 ELSE 0 END AS t3,
        |    CASE WHEN rfc <> lag(rfc) OVER w THEN 1 ELSE 0 END AS t4,
        |    CASE WHEN day <> lag(day) OVER w THEN 1 ELSE 0 END AS t5
        |  FROM b WINDOW w AS (ORDER BY okey, line, partkey, rfc, day)),
        |a AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT okey) AS BIGINT) AS ndv1, max(okey) AS mx1,
        |    1 + CAST(sum(t1) AS BIGINT) AS runs1,
        |    CAST(count(DISTINCT line) AS BIGINT) AS ndv2, max(line) AS mx2,
        |    1 + CAST(sum(t2) AS BIGINT) AS runs2,
        |    CAST(count(DISTINCT partkey) AS BIGINT) AS ndv3,
        |    max(partkey) AS mx3, 1 + CAST(sum(t3) AS BIGINT) AS runs3,
        |    CAST(count(DISTINCT rfc) AS BIGINT) AS ndv4, max(rfc) AS mx4,
        |    1 + CAST(sum(t4) AS BIGINT) AS runs4,
        |    CAST(count(DISTINCT day) AS BIGINT) AS ndv5, max(day) AS mx5,
        |    1 + CAST(sum(t5) AS BIGINT) AS runs5
        |  FROM r),
        |u AS (SELECT 'okey' AS col, n, ndv1 AS ndv, mx1 AS mx,
        |    runs1 AS runs FROM a
        |  UNION ALL SELECT 'line', n, ndv2, mx2, runs2 FROM a
        |  UNION ALL SELECT 'partkey', n, ndv3, mx3, runs3 FROM a
        |  UNION ALL SELECT 'rfc', n, ndv4, mx4, runs4 FROM a
        |  UNION ALL SELECT 'day', n, ndv5, mx5, runs5 FROM a),
        |v AS (SELECT col, n, ndv, runs,
        |    CASE WHEN mx <= 0 THEN 0
        |      ELSE CAST(len(bin(mx)) AS BIGINT) END AS w,
        |    CASE WHEN ndv <= 1 THEN 0
        |      ELSE CAST(len(bin(ndv - 1)) AS BIGINT) END AS cw
        |  FROM u)
        |SELECT col AS "column", n AS n_rows, ndv, runs AS n_runs,
        |  w AS value_bits, cw AS code_bits,
        |  n * w AS plain_bits, n * cw + ndv * w AS dict_bits,
        |  runs * (cw + 16) + ndv * w AS rle_bits,
        |  CASE WHEN n * w <= n * cw + ndv * w
        |        AND n * w <= runs * (cw + 16) + ndv * w THEN 'plain'
        |       WHEN n * cw + ndv * w <= runs * (cw + 16) + ndv * w
        |        THEN 'dict' ELSE 'rle_dict' END AS best
        |FROM v ORDER BY "column"""".stripMargin,

    // q295: value-at-rank is well defined under duplicate values, so
    // row_number tie order is immaterial; the sample predicate is the
    // middle-square row-content hash.
    "q295_sample_quantiles" ->
      s"""WITH li AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |    CAST(l_linenumber AS BIGINT) AS line,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |f AS MATERIALIZED (SELECT c,
        |    (fp * fp // 65536) % 100 < 5 AS in_sample
        |  FROM (SELECT c,
        |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(CAST(okey AS VARCHAR) || ':' ||
        |          CAST(line AS VARCHAR) || ':' || CAST(c AS VARCHAR), ''),
        |        x -> CAST(ascii(x) AS BIGINT))), $FpByteFold) AS fp
        |    FROM li)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS m
        |  FROM f),
        |fr AS (SELECT c, CAST(row_number() OVER (ORDER BY c) AS BIGINT)
        |    AS rk FROM f),
        |sr AS (SELECT c, CAST(row_number() OVER (ORDER BY c) AS BIGINT)
        |    AS rk FROM f WHERE in_sample),
        |dd AS (SELECT unnest(generate_series(CAST(1 AS BIGINT),
        |    CAST(9 AS BIGINT))) AS decile),
        |ex AS (SELECT dd.decile, fr.c AS exact_value
        |  FROM dd, nn, fr WHERE fr.rk = greatest(1, dd.decile * nn.n // 10)),
        |sv AS MATERIALIZED (SELECT dd.decile, sr.c AS sample_value
        |  FROM dd, nn, sr WHERE sr.rk = greatest(1, dd.decile * nn.m // 10)),
        |tr AS (SELECT sv.decile,
        |    CAST(sum(CASE WHEN f.c <= sv.sample_value THEN 1 ELSE 0 END)
        |      AS BIGINT) AS t
        |  FROM f CROSS JOIN sv GROUP BY sv.decile)
        |SELECT ex.decile AS decile, ex.exact_value, sv.sample_value,
        |  tr.t * 1000000 // nn.n AS sample_rank_ppm,
        |  tr.t * 1000000 // nn.n - ex.decile * 100000 AS err_ppm
        |FROM ex JOIN sv ON ex.decile = sv.decile
        |JOIN tr ON ex.decile = tr.decile, nn
        |ORDER BY decile""".stripMargin,

    // q294: generated per-layout zone-map chain — see q294OracleSql.
    "q294_layout_sweep" -> q294OracleSql,

    // q293: the sketch leg min-folds h_i(fp(t)) per (source, perm); the
    // exact leg is q117's incidence join; both from ONE distinct frame.
    "q293_minhash_union" ->
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws
        |  FROM documents),
        |x AS (SELECT source, ws,
        |    unnest(generate_series(1, len(ws) - 2)) AS i FROM w),
        |g AS MATERIALIZED (SELECT DISTINCT source,
        |    ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS t FROM x),
        |gf AS MATERIALIZED (SELECT source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) AS fp
        |  FROM g),
        |sk AS MATERIALIZED (SELECT source, i,
        |    min((fp * (4 * i + 3) + (2 * i + 1)) % 1000000007) AS mh
        |  FROM gf, (SELECT unnest(generate_series(0, 47)) AS i) AS ii
        |  GROUP BY 1, 2),
        |ag AS (SELECT a.source AS s1, b.source AS s2,
        |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM sk a JOIN sk b ON a.i = b.i AND a.source < b.source
        |  GROUP BY 1, 2),
        |iv AS (SELECT a.source AS s1, b.source AS s2,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM g a JOIN g b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2),
        |z AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab
        |  FROM g GROUP BY source)
        |SELECT ag.s1, ag.s2,
        |  coalesce(iv.n_shared, 0) * 1000000
        |    // (z1.n_vocab + z2.n_vocab - coalesce(iv.n_shared, 0))
        |    AS exact_ppm,
        |  ag.n_agree, ag.n_agree * 1000000 // 48 AS est_ppm,
        |  ag.n_agree * 1000000 // 48
        |    - coalesce(iv.n_shared, 0) * 1000000
        |      // (z1.n_vocab + z2.n_vocab - coalesce(iv.n_shared, 0))
        |    AS err_ppm
        |FROM ag LEFT JOIN iv ON ag.s1 = iv.s1 AND ag.s2 = iv.s2
        |JOIN z z1 ON ag.s1 = z1.source JOIN z z2 ON ag.s2 = z2.source
        |ORDER BY ag.s1, ag.s2""".stripMargin,

    // q292: DuckDB's levenshtein agrees with Spark's (q64 established
    // the cross-engine lane); substring is 1-based on both engines.
    "q292_record_linkage" ->
      """WITH cust AS MATERIALIZED (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    c_name AS nm, CAST(c_nationkey AS BIGINT) AS nat,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    c_mktsegment AS seg FROM customer),
        |cands AS MATERIALIZED (
        |  SELECT -k AS cand_id,
        |    substring(nm, 1, 8) || 'X' || substring(nm, 10) AS nm,
        |    nat, cents + 7 AS cents, seg FROM cust WHERE k % 50 = 3
        |  UNION ALL
        |  SELECT -k, 'Stranger#' || CAST(k AS VARCHAR), nat, cents, 'NONE'
        |  FROM cust WHERE k % 50 = 17),
        |scored AS (SELECT c.cand_id, o.k AS okey,
        |    CAST(levenshtein(c.nm, o.nm) AS BIGINT) AS lev,
        |    abs(c.cents - o.cents) AS bal_diff,
        |    c.seg = o.seg AS seg_eq,
        |    CASE WHEN levenshtein(c.nm, o.nm) <= 2 THEN 24 ELSE -8 END +
        |    CASE WHEN abs(c.cents - o.cents) <= 10 THEN 16 ELSE -4 END +
        |    CASE WHEN c.seg = o.seg THEN 8 ELSE -2 END AS score
        |  FROM cands c JOIN cust o ON c.nat = o.nat),
        |best AS (SELECT cand_id, okey, score, lev, n_pairs FROM (
        |    SELECT *, row_number() OVER (PARTITION BY cand_id
        |        ORDER BY score DESC, okey ASC) AS rn,
        |      CAST(count(*) OVER (PARTITION BY cand_id) AS BIGINT)
        |        AS n_pairs
        |    FROM scored) WHERE rn = 1)
        |SELECT cand_id, okey AS matched_custkey, CAST(score AS BIGINT)
        |    AS score, lev, n_pairs,
        |  CASE WHEN score >= 30 THEN 'match'
        |       WHEN score >= 10 THEN 'possible'
        |       ELSE 'non_match' END AS verdict
        |FROM best ORDER BY cand_id""".stripMargin,

    // q291: z² as IEEE doubles with the IDENTICAL operation order on
    // both engines (the sqrt-divide determinism lane); the verdict
    // decides on the milli-rounded statistic, never the raw double.
    "q291_ab_experiment" ->
      s"""WITH conv AS (SELECT c.k, c.arm1, c.arm2,
        |    (c.nat OR (c.arm1 = 1 AND c.boost)) AS conv1, c.nat AS conv2
        |  FROM (SELECT k, nat,
        |      (f1 * f1 // 65536) % 2 AS arm1,
        |      (f2 * f2 // 65536) % 2 AS arm2,
        |      (fb * fb // 65536) % 2 = 0 AS boost
        |    FROM (SELECT CAST(c_custkey AS BIGINT) AS k,
        |      coalesce(m.mx, 0) >= 46500000 AS nat,
        |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split('exp1:' || CAST(CAST(c_custkey AS BIGINT)
        |          AS VARCHAR), ''),
        |        x -> CAST(ascii(x) AS BIGINT))), $FpByteFold) AS f1,
        |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split('exp2:' || CAST(CAST(c_custkey AS BIGINT)
        |          AS VARCHAR), ''),
        |        x -> CAST(ascii(x) AS BIGINT))), $FpByteFold) AS f2,
        |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split('boost:' || CAST(CAST(c_custkey AS BIGINT)
        |          AS VARCHAR), ''),
        |        x -> CAST(ascii(x) AS BIGINT))), $FpByteFold) AS fb
        |    FROM customer LEFT JOIN (SELECT CAST(o_custkey AS BIGINT) AS k,
        |        max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
        |      FROM orders GROUP BY 1) m ON CAST(c_custkey AS BIGINT) = m.k))
        |    AS c),
        |sums AS (SELECT
        |    CAST(sum(CASE WHEN arm1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1a,
        |    CAST(sum(CASE WHEN arm1 = 0 AND conv1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1a,
        |    CAST(sum(CASE WHEN arm1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1b,
        |    CAST(sum(CASE WHEN arm1 = 1 AND conv1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1b,
        |    CAST(sum(CASE WHEN arm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2a,
        |    CAST(sum(CASE WHEN arm2 = 0 AND conv2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2a,
        |    CAST(sum(CASE WHEN arm2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2b,
        |    CAST(sum(CASE WHEN arm2 = 1 AND conv2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2b
        |  FROM conv),
        |st AS (SELECT experiment, n_a, x_a, n_b, x_b,
        |    x_a * 1000000 // n_a AS rate_a_ppm,
        |    x_b * 1000000 // n_b AS rate_b_ppm,
        |    CAST(round(
        |      ((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |       * (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
        |      / ((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |       * (1.0 - CAST(x_a + x_b AS DOUBLE)
        |          / CAST(n_a + n_b AS DOUBLE))
        |       * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |      * 1000.0) AS BIGINT) AS z2_milli
        |  FROM (SELECT 'exp1_treatment' AS experiment, n1a AS n_a,
        |      x1a AS x_a, n1b AS n_b, x1b AS x_b FROM sums
        |    UNION ALL SELECT 'exp2_aa_control', n2a, x2a, n2b, x2b
        |      FROM sums))
        |SELECT experiment, n_a, x_a, n_b, x_b, rate_a_ppm, rate_b_ppm,
        |  z2_milli,
        |  CAST(CASE WHEN z2_milli > 3841 THEN 1 ELSE 0 END AS BIGINT)
        |    AS significant
        |FROM st ORDER BY experiment""".stripMargin,

    // q290: the shard digest xors DISTINCT per-shard fingerprints — a
    // set digest, invariant to row order and per-shard row counts.
    "q290_why_provenance" ->
      s"""SELECT CAST(l_partkey AS BIGINT) AS partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT CAST(l_suppkey AS BIGINT) % 64) AS BIGINT)
        |    AS n_shards,
        |  min(CAST(l_suppkey AS BIGINT) % 64) AS shard_min,
        |  max(CAST(l_suppkey AS BIGINT) % 64) AS shard_max,
        |  bit_xor(DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split('shard:' ||
        |      CAST(CAST(l_suppkey AS BIGINT) % 64 AS VARCHAR), ''),
        |    c -> CAST(ascii(c) AS BIGINT))), $FpByteFold)) AS prov_xor,
        |  CAST(max(CASE WHEN CAST(l_suppkey AS BIGINT) % 64 = 7
        |    THEN 1 ELSE 0 END) AS BIGINT) AS tainted
        |FROM lineitem GROUP BY 1 ORDER BY partkey""".stripMargin,

    // q289: generated 8-level greedy chain — see q289OracleSql.
    "q289_kcenter" -> q289OracleSql,

    // q288: the oracle packs the identical 32-bit words and answers the
    // same three predicate shapes inside the bitmap algebra.
    "q288_bitmap_index" ->
      """WITH base AS MATERIALIZED (SELECT
        |    CAST(row_number() OVER () AS BIGINT) - 1 AS pos,
        |    l_returnflag AS rf, l_linestatus AS ls,
        |    CAST(round(l_quantity) AS BIGINT) // 10 AS qb
        |  FROM lineitem),
        |wb AS MATERIALIZED (SELECT rf, ls, qb, pos // 32 AS word,
        |    CAST(1 AS BIGINT) << CAST(pos % 32 AS INT) AS bit FROM base),
        |uni AS (SELECT word, bit_or(bit) AS bits FROM wb GROUP BY 1),
        |bm_rf_r AS (SELECT word, bit_or(bit) AS bits FROM wb
        |  WHERE rf = 'R' GROUP BY 1),
        |bm_ls_f AS (SELECT word, bit_or(bit) AS bits FROM wb
        |  WHERE ls = 'F' GROUP BY 1),
        |bm_q0 AS (SELECT word, bit_or(bit) AS bits FROM wb
        |  WHERE qb = 0 GROUP BY 1),
        |bm_q4 AS (SELECT word, bit_or(bit) AS bits FROM wb
        |  WHERE qb = 4 GROUP BY 1),
        |bm_rf_a AS (SELECT word, bit_or(bit) AS bits FROM wb
        |  WHERE rf = 'A' GROUP BY 1),
        |bm_q2 AS (SELECT word, bit_or(bit) AS bits FROM wb
        |  WHERE qb = 2 GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_index,
        |    CAST(sum(bit_count(bits)) AS BIGINT) AS n_pop FROM uni),
        |p1 AS (SELECT CAST(coalesce(sum(bit_count(a.bits & b.bits)), 0)
        |    AS BIGINT) AS n
        |  FROM bm_rf_r a JOIN bm_ls_f b ON a.word = b.word),
        |p2 AS (SELECT CAST(coalesce(sum(bit_count(
        |    coalesce(a.bits, 0) | coalesce(b.bits, 0))), 0) AS BIGINT) AS n
        |  FROM bm_q0 a FULL OUTER JOIN bm_q4 b ON a.word = b.word),
        |p3 AS (SELECT CAST(coalesce(sum(bit_count(
        |    a.bits & ~coalesce(b.bits, 0))), 0) AS BIGINT) AS n
        |  FROM bm_rf_a a LEFT JOIN bm_q2 b ON a.word = b.word),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS e0,
        |    CAST(sum(CASE WHEN rf = 'R' AND ls = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS e1,
        |    CAST(sum(CASE WHEN qb = 0 OR qb = 4 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS e2,
        |    CAST(sum(CASE WHEN rf = 'A' AND qb <> 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS e3
        |  FROM base)
        |SELECT predicate, n_words, n_bitmap, n_exact,
        |  n_bitmap - n_exact AS diff
        |FROM (
        |  SELECT '0_index_stats' AS predicate, s.n_index AS n_words,
        |    s.n_pop AS n_bitmap, ex.e0 AS n_exact FROM stats s, ex
        |  UNION ALL SELECT '1_rf_and_ls', s.n_index, p1.n, ex.e1
        |    FROM stats s, p1, ex
        |  UNION ALL SELECT '2_qband_in', s.n_index, p2.n, ex.e2
        |    FROM stats s, p2, ex
        |  UNION ALL SELECT '3_rf_and_not_qband', s.n_index, p3.n, ex.e3
        |    FROM stats s, p3, ex)
        |ORDER BY predicate""".stripMargin,

    // q287: terms keyed 1..6 so the incremental sum (5) and direct
    // recompute (6) sit adjacent; the oracle derives every term from the
    // same two splits.
    "q287_incr_join" ->
      s"""WITH o AS MATERIALIZED (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    CAST(o_custkey AS BIGINT) AS ckey FROM orders),
        |c AS MATERIALIZED (SELECT CAST(c_custkey AS BIGINT) AS ckey
        |  FROM customer),
        |j AS MATERIALIZED (SELECT o.okey, o.ckey,
        |    o.okey % 13 = 0 AS da, o.ckey % 7 = 0 AS db,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(CAST(o.okey AS VARCHAR) || '|' ||
        |        CAST(o.ckey AS VARCHAR), ''),
        |      x -> CAST(ascii(x) AS BIGINT))), $FpByteFold) AS fp
        |  FROM o JOIN c ON o.ckey = c.ckey),
        |terms AS MATERIALIZED (
        |  SELECT '1_v_old' AS term, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(coalesce(sum(fp), 0) AS BIGINT) AS sum_fp
        |  FROM j WHERE NOT da AND NOT db
        |  UNION ALL SELECT '2_delta_a_join_b', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(fp), 0) AS BIGINT) FROM j WHERE da AND NOT db
        |  UNION ALL SELECT '3_a_join_delta_b', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(fp), 0) AS BIGINT) FROM j WHERE NOT da AND db
        |  UNION ALL SELECT '4_delta_a_join_delta_b',
        |    CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(fp), 0) AS BIGINT) FROM j WHERE da AND db)
        |SELECT term, n_rows, sum_fp FROM terms
        |UNION ALL SELECT '5_v_incremental', CAST(sum(n_rows) AS BIGINT),
        |  CAST(sum(sum_fp) AS BIGINT) FROM terms
        |UNION ALL SELECT '6_v_direct', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(fp), 0) AS BIGINT) FROM j
        |ORDER BY term""".stripMargin,

    // q286: token = 'P' + two independently-salted fingerprints; join
    // row semantics: n_rows = raw join count, n_distinct_in = token join
    // count, n_distinct_out = distinct join keys, collisions = tok - raw.
    "q286_pseudonymize" ->
      s"""WITH cust AS MATERIALIZED (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    'P' || CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split('s1:' ||
        |        CAST(CAST(c_custkey AS BIGINT) AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS VARCHAR) ||
        |    '-' || CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split('s2:' ||
        |        CAST(CAST(c_custkey AS BIGINT) AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS VARCHAR) AS p
        |  FROM customer),
        |ords AS MATERIALIZED (SELECT CAST(o_custkey AS BIGINT) AS k,
        |    'P' || CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split('s1:' ||
        |        CAST(CAST(o_custkey AS BIGINT) AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS VARCHAR) ||
        |    '-' || CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split('s2:' ||
        |        CAST(CAST(o_custkey AS BIGINT) AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS VARCHAR) AS p
        |  FROM orders),
        |ca AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT k) AS BIGINT) AS n_in,
        |    CAST(count(DISTINCT p) AS BIGINT) AS n_out FROM cust),
        |oa AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT k) AS BIGINT) AS n_in,
        |    CAST(count(DISTINCT p) AS BIGINT) AS n_out FROM ords),
        |rj AS (SELECT CAST(count(*) AS BIGINT) AS raw_rows,
        |    CAST(count(DISTINCT o.k) AS BIGINT) AS raw_keys
        |  FROM ords o JOIN cust c ON o.k = c.k),
        |tj AS (SELECT CAST(count(*) AS BIGINT) AS tok_rows
        |  FROM ords o JOIN cust c ON o.p = c.p)
        |SELECT 'customer.c_custkey' AS scope, n_rows,
        |  n_in AS n_distinct_in, n_out AS n_distinct_out,
        |  n_in - n_out AS n_collisions FROM ca
        |UNION ALL SELECT 'orders.o_custkey', n_rows, n_in, n_out,
        |  n_in - n_out FROM oa
        |UNION ALL SELECT 'join_orders_customer', raw_rows, tok_rows,
        |  raw_keys, tok_rows - raw_rows FROM rj, tj
        |ORDER BY scope""".stripMargin,

    // q285: the CUSUM fold replays via list_reduce with a prepended
    // [[0,0]] init (q255's list-accumulator pattern); states are scaled
    // by the 7-day baseline window so the arithmetic is pure integer.
    "q285_cusum_drift" ->
      """WITH daily AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT)
        |    AS day, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |ord AS (SELECT day, n, CAST(row_number() OVER (ORDER BY day)
        |    AS BIGINT) AS idx FROM daily),
        |px AS (SELECT day, idx,
        |    n + CASE WHEN idx >= 16 THEN n // 4 ELSE 0 END AS x FROM ord),
        |arrs AS (SELECT list(x ORDER BY idx) AS xs,
        |    list(day ORDER BY idx) AS ds FROM px),
        |params AS (SELECT xs, ds,
        |    CAST(list_sum(xs[1:7]) AS BIGINT) AS t0 FROM arrs),
        |folds AS (SELECT ds, xs, t0,
        |    list_reduce(
        |      list_prepend([[CAST(0 AS BIGINT), CAST(0 AS BIGINT)]],
        |        list_transform(xs, x -> [[x, x]])),
        |      (acc, e) -> list_append(acc, [
        |        greatest(CAST(0 AS BIGINT),
        |          acc[len(acc)][1] + 7 * e[1][1] - t0 - t0 // 10),
        |        greatest(CAST(0 AS BIGINT),
        |          acc[len(acc)][2] - 7 * e[1][1] + t0 - t0 // 10)])) AS st
        |  FROM params)
        |SELECT r.day AS day, r.idx AS idx, r.x AS x,
        |  r.s_pos AS s_pos, r.s_neg AS s_neg, r.alarm AS alarm
        |FROM (SELECT unnest(list_transform(xs, (x, i) -> {
        |    'day': ds[i], 'idx': CAST(i AS BIGINT), 'x': x,
        |    's_pos': st[i + 1][1], 's_neg': st[i + 1][2],
        |    'alarm': CAST(CASE WHEN st[i + 1][1] > t0 // 2
        |      OR st[i + 1][2] > t0 // 2 THEN 1 ELSE 0 END AS BIGINT)}))
        |    AS r FROM folds)
        |ORDER BY day""".stripMargin,

    // q284: the oracle rebuilds the SAME Merkle tree relationally — leaf
    // signature strings cnt:xor:sum, parents hash node-ordered 'node:hash'
    // child lists; n_compared(k) = 4 * n_differing(k-1), root = 1.
    "q284_merkle_diff" ->
      s"""WITH base AS (SELECT CAST(o_orderkey AS BIGINT) % 64 AS b,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR) || '|' ||
        |        CAST(CAST(o_custkey AS BIGINT) AS VARCHAR) || '|' ||
        |        CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) ||
        |        '|' || o_orderstatus, ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS fa,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR) || '|' ||
        |        CAST(CAST(o_custkey AS BIGINT) AS VARCHAR) || '|' ||
        |        CAST(CAST(round(o_totalprice * 100) AS BIGINT) +
        |          CASE WHEN CAST(o_orderkey AS BIGINT) % 64 = 32
        |            THEN 1 ELSE 0 END AS VARCHAR) ||
        |        '|' || o_orderstatus, ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS fb
        |  FROM orders),
        |leaves AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt,
        |    bit_xor(fa) AS xa, CAST(sum(fa) AS BIGINT) AS sa,
        |    bit_xor(fb) AS xb, CAST(sum(fb) AS BIGINT) AS sb
        |  FROM base GROUP BY b),
        |l3 AS MATERIALIZED (SELECT b AS node,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(CAST(cnt AS VARCHAR) || ':' || CAST(xa AS VARCHAR)
        |        || ':' || CAST(sa AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS ha,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(CAST(cnt AS VARCHAR) || ':' || CAST(xb AS VARCHAR)
        |        || ':' || CAST(sb AS VARCHAR), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS hb
        |  FROM leaves),
        |l2 AS MATERIALIZED (SELECT node // 4 AS node,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(string_agg(CAST(node AS VARCHAR) || ':' ||
        |        CAST(ha AS VARCHAR), '|' ORDER BY node), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS ha,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(string_agg(CAST(node AS VARCHAR) || ':' ||
        |        CAST(hb AS VARCHAR), '|' ORDER BY node), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS hb
        |  FROM l3 GROUP BY 1),
        |l1 AS MATERIALIZED (SELECT node // 4 AS node,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(string_agg(CAST(node AS VARCHAR) || ':' ||
        |        CAST(ha AS VARCHAR), '|' ORDER BY node), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS ha,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(string_agg(CAST(node AS VARCHAR) || ':' ||
        |        CAST(hb AS VARCHAR), '|' ORDER BY node), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS hb
        |  FROM l2 GROUP BY 1),
        |l0 AS (SELECT node // 4 AS node,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(string_agg(CAST(node AS VARCHAR) || ':' ||
        |        CAST(ha AS VARCHAR), '|' ORDER BY node), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS ha,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |      string_split(string_agg(CAST(node AS VARCHAR) || ':' ||
        |        CAST(hb AS VARCHAR), '|' ORDER BY node), ''),
        |      c -> CAST(ascii(c) AS BIGINT))), $FpByteFold) AS hb
        |  FROM l1 GROUP BY 1),
        |alln AS (SELECT 3 AS level, node, ha, hb FROM l3
        |  UNION ALL SELECT 2, node, ha, hb FROM l2
        |  UNION ALL SELECT 1, node, ha, hb FROM l1
        |  UNION ALL SELECT 0, node, ha, hb FROM l0),
        |stats AS MATERIALIZED (SELECT level,
        |    CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(CASE WHEN ha <> hb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_differing,
        |    CAST(coalesce(min(CASE WHEN ha <> hb THEN node END), -1)
        |      AS BIGINT) AS first_diff_node
        |  FROM alln GROUP BY level)
        |SELECT CAST(s.level AS BIGINT) AS level, s.n_nodes,
        |  CAST(CASE WHEN s.level = 0 THEN 1 ELSE 4 * p.n_differing END
        |    AS BIGINT) AS n_compared,
        |  s.n_differing, s.first_diff_node
        |FROM stats s LEFT JOIN stats p ON p.level = s.level - 1
        |ORDER BY level""".stripMargin,

    // q264: the script classes interpolate RAW from TextOps (DuckDB
    // strings do not process backslashes; the Spark leg re-escapes via
    // scriptSparkLit — one definition). \x{...} parses in RE2 and Java.
    "q264_script_mix" ->
      raw"""WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents
        |  UNION ALL SELECT doc_id, text FROM (VALUES ${graft.ops.TextOps.ScriptPlant
                 .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
                 .mkString(",\n        |    ")}) v(doc_id, text))
        |SELECT doc_id,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '${graft.ops.TextOps.LatinClass}', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '${graft.ops.TextOps.GreekClass}', '', 'g')) AS BIGINT) AS n_greek,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '${graft.ops.TextOps.CyrillicClass}', '', 'g')) AS BIGINT) AS n_cyrillic,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '${graft.ops.TextOps.CjkClass}', '', 'g')) AS BIGINT) AS n_cjk,
        |  CAST(len(list_filter(string_split(t, ' '), w ->
        |    regexp_matches(w, '${graft.ops.TextOps.LatinClass}')
        |    AND regexp_matches(w, '${graft.ops.TextOps.ConfusableClass}')))
        |    AS BIGINT) AS n_spoof_words,
        |  CAST(CASE WHEN len(list_filter(string_split(t, ' '), w ->
        |      regexp_matches(w, '${graft.ops.TextOps.LatinClass}')
        |      AND regexp_matches(w, '${graft.ops.TextOps.ConfusableClass}'))) > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS has_spoof
        |FROM base ORDER BY doc_id""".stripMargin,

    // q263: per-column (value, multiplicity) rollup from the same catalog.
    "q263_key_candidates" ->
      s"""WITH inc AS (${graft.operators.SchemaOps.FkColumns.map { case (t, c) =>
             s"SELECT '$t.$c' AS col_id, CAST($c AS BIGINT) AS v FROM $t WHERE $c IS NOT NULL"
           }.mkString("\n        |  UNION ALL ")}),
        |g AS (SELECT col_id, v, CAST(count(*) AS BIGINT) AS m
        |  FROM inc GROUP BY 1, 2)
        |SELECT col_id, CAST(sum(m) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(count(*) AS BIGINT) * 1000000 // CAST(sum(m) AS BIGINT)
        |    AS uniqueness_ppm,
        |  CAST(max(m) AS BIGINT) AS max_dup,
        |  CAST(CASE WHEN CAST(count(*) AS BIGINT) * 1000000
        |      // CAST(sum(m) AS BIGINT) = 1000000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_pk_candidate
        |FROM g GROUP BY col_id ORDER BY col_id""".stripMargin,

    // q262: the tagged distinct incidence is generated from the SAME
    // column catalog (SchemaOps.FkColumns) the Spark leg uses.
    "q262_fk_discovery" ->
      s"""WITH inc AS (${graft.operators.SchemaOps.FkColumns.map { case (t, c) =>
             s"SELECT '$t.$c' AS col_id, CAST($c AS BIGINT) AS v FROM $t WHERE $c IS NOT NULL GROUP BY 2"
           }.mkString("\n        |  UNION ALL ")}),
        |sz AS (SELECT col_id, CAST(count(*) AS BIGINT) AS na
        |  FROM inc GROUP BY col_id),
        |pr AS (SELECT a.col_id AS col_a, b.col_id AS col_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM inc a JOIN inc b ON a.v = b.v AND a.col_id <> b.col_id
        |  GROUP BY 1, 2)
        |SELECT col_a, col_b, na, inter, inter * 1000000 // na AS inclusion_ppm
        |FROM pr JOIN sz ON sz.col_id = pr.col_a
        |WHERE inter * 1000000 // na >= 950000
        |ORDER BY col_a, col_b""".stripMargin,

    // q254: the oracle replays the scene-cut ground truth arithmetically
    // from doc_id — the per-pixel delta is the SAME for every pixel of a
    // frame pair ((97·Δscene mod 150) + 1; the spatial term cancels), so
    // E = w·h·Δ²; the Spark leg computes E from actually-decoded animated
    // GIF rasters, making the equality an end-to-end codec gate.
    "q254_scene_cuts" ->
      """WITH d AS (SELECT doc_id,
        |    (doc_id % 12 + 12) % 12 + 4 AS nf,
        |    (doc_id % 3 + 3) % 3 + 2 AS L,
        |    (doc_id % 7 + 7) % 7 + 5 AS w,
        |    (doc_id % 5 + 5) % 5 + 5 AS h
        |  FROM documents),
        |fr AS (SELECT doc_id, nf, L, w, h,
        |    unnest(generate_series(1, CAST(nf - 1 AS BIGINT))) AS f
        |  FROM d),
        |e AS (SELECT doc_id, nf, w, h, f, w * h * dd * dd AS energy
        |  FROM (SELECT *,
        |      ((doc_id + 97 * (f // L)) % 150 + 150) % 150
        |        - ((doc_id + 97 * ((f - 1) // L)) % 150 + 150) % 150 + 1 AS dd
        |    FROM fr))
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(sum(CASE WHEN energy > 1024 * w * h THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cuts,
        |  CAST(sum(CASE WHEN energy > 1024 * w * h
        |    THEN (CAST(1 AS BIGINT) << f) ELSE 0 END) AS BIGINT) AS cut_mask,
        |  CAST(max(energy) AS BIGINT) AS max_delta_energy
        |FROM e GROUP BY doc_id, nf ORDER BY doc_id""".stripMargin,

    // q249: the oracle replays the PLAIN global exclusive running max in
    // the sharded-collector arrival order (batch, shard, event_id); the
    // Spark leg's GlobalOrder two-phase carry agrees exactly.
    "q249_watermark_lateness" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us,
        |    event_id // 64 AS batch, user_id % 4 AS shard FROM events),
        |l AS (SELECT event_type,
        |    greatest(coalesce(max(us) OVER (ORDER BY batch, shard, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), us), us)
        |      - us AS late_us
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(max(late_us) AS BIGINT) AS max_late_us,
        |  CAST(sum(late_us) AS BIGINT) AS sum_late_us,
        |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1000000
        |       // count(*) AS BIGINT) AS late_ppm
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q248: dense S×V ppm grid over the shared top-256 vocabulary, then
    // the pairwise L1 fold; ppm div floors identically in both engines.
    "q248_source_divergence" ->
      """WITH ws AS (SELECT source, w FROM (SELECT source,
        |      unnest(string_split(text, ' ')) AS w FROM documents)
        |    WHERE source IS NOT NULL AND w <> ''),
        |cnt AS MATERIALIZED (SELECT source, w, CAST(count(*) AS BIGINT) AS n
        |  FROM ws GROUP BY source, w),
        |vocab AS MATERIALIZED (SELECT w FROM (SELECT w, CAST(sum(n) AS BIGINT) AS nt
        |  FROM cnt GROUP BY w ORDER BY nt DESC, w LIMIT 256)),
        |iv AS MATERIALIZED (SELECT cnt.* FROM cnt JOIN vocab USING (w)),
        |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot
        |  FROM iv GROUP BY source),
        |grid AS MATERIALIZED (SELECT t.source, v.w,
        |    COALESCE(iv.n, 0) * 1000000 // t.tot AS ppm
        |  FROM tot t CROSS JOIN vocab v
        |  LEFT JOIN iv ON iv.source = t.source AND iv.w = v.w)
        |SELECT a.source AS s1, b.source AS s2,
        |  CAST(sum(abs(a.ppm - b.ppm)) AS BIGINT) AS l1_ppm,
        |  CAST(sum(CASE WHEN a.ppm > 0 AND b.ppm > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_shared_vocab
        |FROM grid a JOIN grid b ON a.w = b.w AND a.source < b.source
        |GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin,

    // q247: the NFD walk replays as a list_reduce with the init state
    // prepended (DuckDB's reduce takes no initial accumulator); the
    // [-cost, doc_id] encoding sorts cost-desc/id-asc in both engines.
    "q247_nfd_packing" ->
      """WITH d AS (SELECT doc_id, doc_id // 64 AS batch_id,
        |    least(CAST(len(string_split(text, ' ')) AS BIGINT), 512) AS cost,
        |    CAST(len(string_split(text, ' ')) > 512 AS BIGINT) AS oversize
        |  FROM documents),
        |b AS (SELECT batch_id, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(cost) AS BIGINT) AS total_tokens,
        |    CAST(sum(oversize) AS BIGINT) AS n_oversize,
        |    list_sort(list([-cost, doc_id])) AS q
        |  FROM d GROUP BY batch_id),
        |f AS (SELECT *, list_reduce(
        |    list_prepend([CAST(0 AS BIGINT), CAST(512 AS BIGINT)], q),
        |    (acc, x) -> CASE WHEN acc[2] - x[1] <= 512
        |      THEN [acc[1], acc[2] - x[1]]
        |      ELSE [acc[1] + 1, -x[1]] END)[1] AS n_bins FROM b)
        |SELECT batch_id, n_docs, total_tokens, n_oversize, n_bins,
        |  n_bins * 512 - total_tokens AS waste_tokens,
        |  (n_bins * 512 - total_tokens) * 1000000 // (n_bins * 512) AS waste_ppm
        |FROM f ORDER BY batch_id""".stripMargin,

    // q246: the same plant (lpad'd hex blocks of doc_id-derived values —
    // DuckDB to_hex is uppercase, hence lower()) and the same three
    // detector regexes; RE2 inline (?i) works in both engines. The LCG
    // multiply is in the Spark plant's overflow-safe SPLIT FORM (xm is
    // doc_id mod 2^32, split at 2^16; 2041643008 = 2654435761·2^16 mod
    // 2^32) — identical values, every intermediate < 2^49.
    "q246_secret_scan" ->
      """WITH x AS (SELECT doc_id, text,
        |    ((doc_id % 4294967296 + 4294967296) % 4294967296) AS xm
        |  FROM documents),
        |p AS (SELECT doc_id, coalesce(text, '') ||
        |    CASE
        |      WHEN doc_id % 4 = 1 THEN ' api_key=' ||
        |        lpad(lower(to_hex((xm // 65536 * 2041643008 + xm % 65536 * 2654435761 + 0) % 4294967296)), 8, '0') ||
        |        lpad(lower(to_hex((xm // 65536 * 2041643008 + xm % 65536 * 2654435761 + 97) % 4294967296)), 8, '0') ||
        |        lpad(lower(to_hex((xm // 65536 * 2041643008 + xm % 65536 * 2654435761 + 194) % 4294967296)), 8, '0') ||
        |        lpad(lower(to_hex((xm // 65536 * 2041643008 + xm % 65536 * 2654435761 + 291) % 4294967296)), 8, '0')
        |      WHEN doc_id % 4 = 2 THEN ' key AKIA' ||
        |        lpad(upper(to_hex((xm // 65536 * 2041643008 + xm % 65536 * 2654435761 + 388) % 4294967296)), 8, '0') ||
        |        lpad(upper(to_hex((xm // 65536 * 2041643008 + xm % 65536 * 2654435761 + 485) % 4294967296)), 8, '0')
        |      WHEN doc_id % 4 = 3 THEN ' token=shortpw1'
        |      ELSE '' END || ' end' AS t2
        |  FROM x)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[0-9a-f]{32,}')) AS BIGINT) AS n_hex_runs,
        |  CAST(len(regexp_extract_all(t2, 'AKIA[0-9A-Z]{16}')) AS BIGINT) AS n_aws_keys,
        |  CAST(len(regexp_extract_all(t2,
        |    '(?i)(?:api_key|secret|token|password)=[A-Za-z0-9+/_-]{16,}')) AS BIGINT)
        |    AS n_cred_assign,
        |  CAST(CASE WHEN len(regexp_extract_all(t2, '[0-9a-f]{32,}'))
        |      + len(regexp_extract_all(t2, 'AKIA[0-9A-Z]{16}'))
        |      + len(regexp_extract_all(t2,
        |          '(?i)(?:api_key|secret|token|password)=[A-Za-z0-9+/_-]{16,}')) > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS has_secret
        |FROM p ORDER BY doc_id""".stripMargin,

    // q245: q76's contamination verdict replayed, then the >= 10% drop
    // policy; short (<5-word) train docs carry no verdict and are kept.
    "q245_decontam_apply" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 5),
        |g AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(1, len(ws) - 4),
        |        i -> array_to_string(list_slice(ws, i, i + 4), ' ')))) AS g
        |      FROM d),
        |ev AS (SELECT DISTINCT g AS eg FROM g WHERE doc_id % 20 = 0),
        |vr AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN eg IS NOT NULL THEN 1 ELSE 0 END) * 1000
        |         // count(*) AS BIGINT) AS cp
        |  FROM (SELECT * FROM g WHERE doc_id % 20 <> 0) c
        |  LEFT JOIN ev ON c.g = ev.eg
        |  GROUP BY doc_id),
        |tr AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    COALESCE(vr.cp, 0) AS cp
        |  FROM documents LEFT JOIN vr USING (doc_id) WHERE doc_id % 20 <> 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN cp >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(count(*) - sum(CASE WHEN cp >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(sum(CASE WHEN cp < 100 THEN doc_id END), 0) AS BIGINT) AS kept_id_sum,
        |  CAST(sum(CASE WHEN cp < 100 THEN n_words ELSE 0 END) AS BIGINT) AS kept_words,
        |  CAST(sum(CASE WHEN cp >= 100 THEN 1 ELSE 0 END) * 1000000
        |       // count(*) AS BIGINT) AS dropped_ppm
        |FROM tr GROUP BY source ORDER BY source""".stripMargin,

    // q244: q106's unrolled Lloyd's chain to the final assignment, then
    // the per-cluster exact-k draw replayed as a single window (the
    // Spark side's two-stage salted top-k selects the identical set).
    "q244_coreset_sample" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
        |       FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 8)),
        |a1 AS (SELECT vec_id, q, cid, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c0 c)) WHERE rn = 1),
        |x1 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a1),
        |s1 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x1 GROUP BY cid, i),
        |u1 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s1 GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(u1.c, c0.c) AS c FROM c0 LEFT JOIN u1 USING (cid)),
        |a2 AS (SELECT vec_id, q, cid, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c1 c)) WHERE rn = 1),
        |x2 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a2),
        |s2 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x2 GROUP BY cid, i),
        |u2 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s2 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(u2.c, c1.c) AS c FROM c1 LEFT JOIN u2 USING (cid)),
        |a3 AS MATERIALIZED (SELECT vec_id, cid, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c2 c)) WHERE rn = 1),
        |sel AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_selected,
        |    CAST(sum(vec_id) AS BIGINT) AS sel_id_sum,
        |    CAST(sum(d) AS BIGINT) AS sel_d2_sum
        |  FROM (SELECT *, row_number() OVER (PARTITION BY cid
        |      ORDER BY (((vec_id % 2147483648 + 2147483648) % 2147483648)
        |                 * 1103515245 + 12345) % 2147483648, vec_id) AS rk
        |    FROM a3) WHERE rk <= 10 GROUP BY cid)
        |SELECT a.cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |  any_value(sel.n_selected) AS n_selected,
        |  any_value(sel.sel_id_sum) AS sel_id_sum,
        |  any_value(sel.sel_d2_sum) AS sel_d2_sum
        |FROM a3 a JOIN sel ON a.cid = sel.cid
        |GROUP BY a.cid ORDER BY cluster_id""".stripMargin,

    // q243: first-seen = min(doc_id) per distinct 5-gram (q76's gram
    // spelling); deciles replay the GlobalOrder rank as row_number over
    // doc_id. g/pd are MATERIALIZED (each referenced twice).
    "q243_novelty_curve" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 5),
        |g AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(1, len(ws) - 4),
        |        i -> array_to_string(list_slice(ws, i, i + 4), ' ')))) AS g
        |      FROM d),
        |pd AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |      FROM g GROUP BY doc_id),
        |nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel FROM
        |        (SELECT g, min(doc_id) AS doc_id FROM g GROUP BY g)
        |       GROUP BY doc_id),
        |st AS (SELECT pd.doc_id, pd.n_grams, COALESCE(nv.n_novel, 0) AS n_novel,
        |        row_number() OVER (ORDER BY pd.doc_id) AS rk,
        |        (SELECT count(*) FROM pd) AS t
        |       FROM pd LEFT JOIN nv USING (doc_id))
        |SELECT (rk - 1) * 10 // t AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
        |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
        |  CAST(sum(n_novel) AS BIGINT) * 1000000
        |    // CAST(sum(n_grams) AS BIGINT) AS novelty_ppm
        |FROM st GROUP BY decile ORDER BY decile""".stripMargin,

    // q240-q242: the last three TPC-H analogues (Q2/Q11/Q16). No partsupp
    // table exists, so the observed lineitem incidence IS the
    // part-supplier relation; unit cost is milli-cents div integral qty
    // (positive operands: Spark `div` == DuckDB `//`), and Q11's 1/10000
    // threshold is the overflow-safe `value > total div 10000` form.
    "q240_min_cost_supplier" ->
      """WITH unit AS (SELECT l_partkey, l_suppkey,
        |    min((CAST(round(l_extendedprice * 100) AS BIGINT) * 1000)
        |        // CAST(round(l_quantity) AS BIGINT)) AS cost_milli_cents
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |sup AS (SELECT s_suppkey, s_name,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |j AS (SELECT p.p_partkey, p.p_brand, u.cost_milli_cents,
        |    s.s_suppkey, s.s_name, s.s_acctbal_cents, s.n_name
        |  FROM unit u JOIN part p ON u.l_partkey = p.p_partkey AND p.p_size >= 40
        |  JOIN sup s ON u.l_suppkey = s.s_suppkey),
        |best AS (SELECT * FROM (SELECT *, row_number() OVER
        |    (PARTITION BY p_partkey ORDER BY cost_milli_cents, s_suppkey) AS rn
        |  FROM j) WHERE rn = 1)
        |SELECT s_acctbal_cents, s_name, n_name, p_partkey, p_brand, cost_milli_cents
        |FROM best ORDER BY s_acctbal_cents DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q241_important_stock" ->
      """WITH v AS (SELECT l_partkey AS p_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |      AS BIGINT) AS value_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7')
        |  GROUP BY l_partkey),
        |tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS t FROM v)
        |SELECT p_partkey, value_cents FROM v CROSS JOIN tot
        |WHERE value_cents > t // 10000
        |ORDER BY value_cents DESC, p_partkey""".stripMargin,

    "q242_parts_supplier" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) i
        |JOIN part ON i.l_partkey = p_partkey
        |WHERE p_brand != 'Brand#45' AND p_size <= 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // q178's split rule + q213's MinHash replay, restricted to eval→train
    // band probes (ASCII-only fingerprint invariant, see q213's note).
    "q223_neardup_leakage" ->
      raw"""WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') AS ws,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |        string_split(coalesce(text, '') || CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) % 10 = 9 AS is_eval
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, lang, is_eval,
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles FROM docs),
        |hs AS (SELECT doc_id, lang, is_eval, list_transform(shingles,
        |    s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |                     $FpByteFold)) AS h FROM sh),
        |sig AS (SELECT doc_id, lang, is_eval, [
        |  list_min(list_transform(h, x -> (3 * x + 1) % 1000000007)),
        |  list_min(list_transform(h, x -> (7 * x + 5) % 1000000007)),
        |  list_min(list_transform(h, x -> (11 * x + 13) % 1000000007)),
        |  list_min(list_transform(h, x -> (17 * x + 29) % 1000000007)),
        |  list_min(list_transform(h, x -> (23 * x + 37) % 1000000007)),
        |  list_min(list_transform(h, x -> (31 * x + 43) % 1000000007)),
        |  list_min(list_transform(h, x -> (41 * x + 53) % 1000000007)),
        |  list_min(list_transform(h, x -> (47 * x + 61) % 1000000007)),
        |  list_min(list_transform(h, x -> (59 * x + 71) % 1000000007)),
        |  list_min(list_transform(h, x -> (67 * x + 79) % 1000000007)),
        |  list_min(list_transform(h, x -> (73 * x + 89) % 1000000007)),
        |  list_min(list_transform(h, x -> (83 * x + 101) % 1000000007))] AS sig FROM hs),
        |bands AS (SELECT doc_id, is_eval, i AS band_idx,
        |    CAST(sig[3*i + 1] AS VARCHAR) || ':' || CAST(sig[3*i + 2] AS VARCHAR)
        |      || ':' || CAST(sig[3*i + 3] AS VARCHAR) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
        |cands AS (SELECT DISTINCT e.doc_id AS e_id, t.doc_id AS t_id
        |  FROM bands e JOIN bands t
        |    ON e.band_idx = t.band_idx AND e.band_key = t.band_key
        |  WHERE e.is_eval AND NOT t.is_eval),
        |leaked AS (SELECT DISTINCT e_id FROM cands
        |  JOIN sig se ON se.doc_id = e_id JOIN sig st ON st.doc_id = t_id
        |  WHERE len(list_filter(generate_series(1, 12), i -> se.sig[i] = st.sig[i])) >= 6)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(sum(CASE WHEN leaked.e_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_neardup_leaked,
        |  CAST(sum(CASE WHEN leaked.e_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    * 1000000 // count(*) AS leak_ppm
        |FROM (SELECT * FROM sig WHERE is_eval) e
        |LEFT JOIN leaked ON e.doc_id = leaked.e_id
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // q224: cross-doc repeated 8-gram spans with q138's interval-union
    // windows; gram keys compose per-word polynomial hashes (ASCII-only,
    // q213's note) through the same TWO 8-step folds as the Spark
    // aggregate HOFs, packed fp1*2^31+fp2 into a ~2^60 space
    // (list_reduce seeds with the first element, which equals the
    // 0-seeded fold since 0*m+h = h and mod is congruence-stable); the
    // planted 12-word suffix rides both engines.
    "q224_repeated_spans" ->
      raw"""WITH d0 AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 9 = 0 THEN text ||
        |      ' shared boilerplate footer all rights reserved contact us terms of service apply'
        |    ELSE text END AS text
        |  FROM documents),
        |d AS (SELECT doc_id, list_transform(string_split(text, ' '),
        |        w -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(w, ''),
        |            c -> CAST(ascii(c) AS BIGINT))),
        |          $FpByteFold)) AS hs
        |      FROM d0 WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_tokens,
        |        unnest(list_transform(generate_series(1, len(hs) - 7),
        |          i -> {'pos': i,
        |                'fp': list_reduce(list_slice(hs, i, i + 7),
        |                    (a, b) -> (a * 31 + b) % 1000000007) * 2147483648
        |                  + list_reduce(list_slice(hs, i, i + 7),
        |                    (a, b) -> (a * 37 + b) % 999999937)}))
        |          AS pg
        |      FROM d),
        |rep AS (SELECT pg.fp AS rfp FROM g
        |        GROUP BY pg.fp HAVING count(DISTINCT doc_id) >= 2),
        |h AS (SELECT doc_id, n_tokens, CAST(pg.pos AS BIGINT) AS st,
        |        CAST(pg.pos + 7 AS BIGINT) AS en
        |      FROM g WHERE pg.fp IN (SELECT rfp FROM rep)),
        |m AS (SELECT *, max(en) OVER (PARTITION BY doc_id ORDER BY st
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM h),
        |sid AS (SELECT *, CAST(sum(CASE WHEN prev_end IS NULL OR st > prev_end + 1
        |          THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY st
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS span_id
        |        FROM m),
        |spans AS (SELECT doc_id, span_id, max(n_tokens) AS n_tokens,
        |            min(st) AS ss, max(en) AS ee
        |          FROM sid GROUP BY doc_id, span_id)
        |SELECT doc_id, max(n_tokens) AS n_tokens, count(*) AS n_spans,
        |  CAST(sum(ee - ss + 1) AS BIGINT) AS covered_tokens,
        |  CAST(sum(ee - ss + 1) * 1000000 // max(n_tokens) AS BIGINT)
        |    AS covered_ppm,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS BIGINT) AS planted
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q225: DSIR importance scores — integer-ppm hashed-bucket rate
    // deltas (target = src0, 8192 buckets via the ASCII-only polynomial
    // hash, q213's note) folded per document; both legs replay exactly.
    "q225_importance_weights" ->
      raw"""WITH toks AS (SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(w, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      $FpByteFold) % 8192 AS b
        |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)),
        |raw AS (SELECT b, count(*) AS n_raw FROM toks GROUP BY b),
        |tgt AS (SELECT b, count(*) AS n_tgt FROM toks
        |        WHERE source = 'src0' GROUP BY b),
        |tot AS (SELECT (SELECT CAST(sum(n_raw) AS BIGINT) FROM raw) AS t_raw,
        |               (SELECT CAST(sum(n_tgt) AS BIGINT) FROM tgt) AS t_tgt),
        |dict AS (SELECT raw.b,
        |    (CASE WHEN coalesce(t_tgt, 0) = 0 THEN 0
        |          ELSE coalesce(n_tgt, 0) * 1000000 // t_tgt END)
        |      - (n_raw * 1000000 // t_raw) AS delta_ppm
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot)
        |SELECT doc_id, max(source) AS source, count(*) AS n_tokens,
        |  CAST(sum(delta_ppm) AS BIGINT) AS dsir_score
        |FROM toks JOIN dict USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q226: GENERATED oracle — DuckDB independently re-learns the BPE
    // merge table through an unrolled CTE chain (one pair-count +
    // arg-max + replace-apply round per merge; same total order).
    "q226_bpe_merges" -> CorpusOps.bpeOracleSql(),

    // q227: the q226 chain re-learned, then applied to every token via
    // the same scalar-subquery replace steps; per-lang fertility fold.
    "q227_bpe_fertility" -> CorpusOps.bpeFertilityOracleSql(),

    // q255: the oracle re-learns the merges (bpeLearnWith), then replays
    // BOTH encoders — q227's greedy replace chain and the exact Viterbi
    // dp as a prepended-init list_reduce — per word type.
    "q255_viterbi_audit" -> CorpusOps.viterbiOracleSql(),

    // q228: the audio analogue of q222 — the oracle recomputes the
    // expected sample count/sum/energy arithmetically; equality proves
    // the real RIFF/WAVE encode→decode round trip codec-free.
    "q228_audio_decode" ->
      """SELECT d.doc_id,
        |  CAST(((d.doc_id % 240) + 240) % 240 + 16 AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(sum((((d.doc_id * 7 + g.i * 13) % 256) + 256) % 256) AS BIGINT)
        |    AS sample_sum,
        |  CAST(sum(((((d.doc_id * 7 + g.i * 13) % 256) + 256) % 256 - 128)
        |         * ((((d.doc_id * 7 + g.i * 13) % 256) + 256) % 256 - 128))
        |    AS BIGINT) AS energy
        |FROM documents d, generate_series(0, 254) g(i)
        |WHERE g.i < ((d.doc_id % 240) + 240) % 240 + 16
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // q229: q106's unrolled Lloyd's chain over the planted-twin union,
    // then within-cluster high-cosine drops (dot/nrm2 exact int64; only
    // the threshold compare is double — IEEE sqrt/divide match).
    "q229_semantic_dedup" ->
      """WITH e0 AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |e AS (SELECT * FROM e0
        |      UNION ALL
        |      SELECT -vec_id - 1 AS vec_id, q FROM e0 WHERE vec_id % 10 = 0),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
        |       FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 8)),
        |a1 AS (SELECT vec_id, q, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c0 c)) WHERE rn = 1),
        |x1 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a1),
        |s1 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x1 GROUP BY cid, i),
        |u1 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s1 GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(u1.c, c0.c) AS c FROM c0 LEFT JOIN u1 USING (cid)),
        |a2 AS (SELECT vec_id, q, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c1 c)) WHERE rn = 1),
        |x2 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a2),
        |s2 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x2 GROUP BY cid, i),
        |u2 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s2 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(u2.c, c1.c) AS c FROM c1 LEFT JOIN u2 USING (cid)),
        |n AS MATERIALIZED (SELECT vec_id, cid, q,
        |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm2
        |  FROM (SELECT vec_id, q, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c2 c)) WHERE rn = 1)),
        |dr AS (SELECT DISTINCT y.vec_id FROM n x JOIN n y
        |         ON x.cid = y.cid AND x.vec_id < y.vec_id
        |       WHERE x.nrm2 > 0 AND y.nrm2 > 0 AND
        |         CAST(list_sum(list_transform(generate_series(1, len(x.q)),
        |             i -> x.q[i] * y.q[i])) AS DOUBLE)
        |           / (sqrt(CAST(x.nrm2 AS DOUBLE)) * sqrt(CAST(y.nrm2 AS DOUBLE)))
        |           >= 0.95)
        |SELECT cid AS cluster_id, count(*) AS n_members,
        |  CAST(sum(CASE WHEN n.vec_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
        |  CAST(sum(CASE WHEN dr.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN dr.vec_id IS NULL THEN 0 ELSE 1 END) * 1000000
        |    // count(*) AS BIGINT) AS drop_ppm
        |FROM n LEFT JOIN dr ON n.vec_id = dr.vec_id
        |GROUP BY cid ORDER BY cluster_id""".stripMargin,

    // q322: q229's Lloyd's replay over the paraphrase-trio union, then
    // the SemDeDup priority sweep (farthest-from-centroid keeps first)
    // as ONE state-free self-join + argmax head attribution.
    "q322_semantic_prune" ->
      """WITH e0 AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |e AS MATERIALIZED (
        |  SELECT vec_id, label, q FROM e0
        |  UNION ALL
        |  SELECT -vid - 1 AS vec_id, CAST((lab + 1) % 10 AS INTEGER) AS label,
        |    list_transform(generate_series(1, len(qq)), j -> qq[j] + (vid + j - 1) % 3 - 1) AS q
        |  FROM (SELECT vec_id AS vid, label AS lab, q AS qq FROM e0 WHERE vec_id % 10 = 7)
        |  UNION ALL
        |  SELECT -vid - 100001 AS vec_id, CAST((lab + 2) % 10 AS INTEGER) AS label,
        |    list_transform(generate_series(1, len(qq)), j -> qq[j] + (vid + 2 * j - 1) % 3 - 1) AS q
        |  FROM (SELECT vec_id AS vid, label AS lab, q AS qq FROM e0 WHERE vec_id % 10 = 7)),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
        |       FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 8)),
        |a1 AS (SELECT vec_id, q, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c0 c)) WHERE rn = 1),
        |x1 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a1),
        |s1 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x1 GROUP BY cid, i),
        |u1 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s1 GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(u1.c, c0.c) AS c FROM c0 LEFT JOIN u1 USING (cid)),
        |a2 AS (SELECT vec_id, q, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c1 c)) WHERE rn = 1),
        |x2 AS (SELECT cid, unnest(generate_series(1, len(q))) AS i, unnest(q) AS x FROM a2),
        |s2 AS (SELECT cid, i, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        |       FROM x2 GROUP BY cid, i),
        |u2 AS (SELECT cid, list(CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        |       FROM s2 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(u2.c, c1.c) AS c FROM c1 LEFT JOIN u2 USING (cid)),
        |n AS MATERIALIZED (SELECT f.vec_id, e.label, f.cid, f.q,
        |    CAST(f.d AS BIGINT) AS d2,
        |    CAST(list_sum(list_transform(f.q, x -> x * x)) AS BIGINT) AS nrm2
        |  FROM (SELECT vec_id, q, cid, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
        |      SELECT e.vec_id, e.q, c.cid,
        |        list_sum(list_transform(generate_series(1, len(e.q)),
        |          i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
        |      FROM e CROSS JOIN c2 c)) WHERE rn = 1) f
        |  JOIN e ON e.vec_id = f.vec_id),
        |hd AS MATERIALIZED (SELECT vec_id, head FROM (
        |  SELECT y.vec_id, x.vec_id AS head,
        |    row_number() OVER (PARTITION BY y.vec_id ORDER BY x.d2 DESC, x.vec_id) AS rk
        |  FROM n x JOIN n y ON x.cid = y.cid
        |    AND (x.d2 > y.d2 OR (x.d2 = y.d2 AND x.vec_id < y.vec_id))
        |  WHERE x.nrm2 > 0 AND y.nrm2 > 0
        |    AND CAST(list_sum(list_transform(generate_series(1, len(x.q)),
        |        i -> x.q[i] * y.q[i])) AS DOUBLE)
        |      / (sqrt(CAST(x.nrm2 AS DOUBLE)) * sqrt(CAST(y.nrm2 AS DOUBLE))) >= 0.95)
        |  WHERE rk = 1)
        |SELECT n.vec_id, n.label, n.cid AS cluster_id, n.d2,
        |  CASE WHEN hd.vec_id IS NULL THEN CAST(1 AS BIGINT) ELSE 0 END AS kept,
        |  coalesce(hd.head, n.vec_id) AS head_vec_id
        |FROM n LEFT JOIN hd ON n.vec_id = hd.vec_id
        |ORDER BY n.vec_id""".stripMargin,
  )
}
