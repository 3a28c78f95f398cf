package graft

import org.apache.spark.sql.functions._

import graft.functions.Bpe

/** The BPE tokenizer under the gate: the fit itself (q143), per-document
  * encoding (q142), and the token-budget family re-based on real
  * tokenizer tokens (q144 chunking).
  *
  * Oracle discipline (the q46/q105 unrolled-k-means pattern): the DuckDB
  * SQL replays the ENTIRE fit — hash-capped sample, word frequencies,
  * vocab cap, and every one of the `M` merge steps (pair counting, the
  * (count DESC, l, r) argmax, and the left-to-right non-overlapping
  * merge pass as a window-function fold) — then the ENTIRE encode (every
  * distinct corpus word through all `M` passes in rank order, re-joined
  * to documents in token order). Nothing is trusted from the Scala side;
  * a drift anywhere in the merge loop breaks q143 directly and q142/q144
  * through the token stream.
  *
  * The window fold (per merge step): match marks `m_i = (s_i=l ∧
  * s_{i+1}=r)`, runs of consecutive matches take their 1st, 3rd, …
  * members (gaps-and-islands parity — exactly the left-to-right
  * non-overlapping scan), the position after a taken match is consumed.
  * [[graft.BpeSpec]] pins the Scala kernel to hand-computed folds
  * including the overlapping-run case ("aaaa"). */
object BpeQueries {
  import Registry.Q

  /** Fit parameters (shared by the Spark queries and every oracle —
    * single definition, no drift). At 100 TB these scale the same way
    * the PQ fit caps do: the sample saturates merge quality long before
    * the corpus runs out. */
  private val SampleDocs = 256
  private val MaxWords = 4096
  private val NumMerges = 48

  private val Lex = "\\w+|[^\\w\\s]"
  private val Alpha = "^[A-Za-z]+$"

  /** [[Bpe.Gpt2AlphaPattern]] verbatim — the GPT-2-basis merged class
    * (optionally space-prefixed ASCII letter run). */
  private val GAlpha = "^ ?[A-Za-z]+$"

  /** The q243/q256 fixture corpus: documents plus three planted docs
    * that exercise every scanner branch IN THE GATE (the synthetic
    * corpus carries no apostrophes or tabs) — contractions, blocked
    * contractions (after space/punct/inside punct runs), tab/newline
    * non-attachment, multi-space splits, trailing runs, digit/letter
    * transitions. */
  private def plantedGpt2Docs(
      spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq(
      (95001L, "I'm sure we're fine don't you think it'll work they've said he'd agree 's"),
      (95002L, "rock'sand can'tify a''s x.'s 9's q're'll !'s and 'IT'S' case"),
      (95003L, "tabs\tand\nnewlines  double  spaces\t'd trailing   ")
    ).toDF("doc_id", "text")
  }

  /** SQL twin of [[plantedGpt2Docs]] ∪ documents: the `docs` CTE. */
  private val gpt2DocsCte: String =
    """docs AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text FROM documents
      |    UNION ALL SELECT 95001, 'I' || chr(39) || 'm sure we' || chr(39) || 're fine don' || chr(39) || 't you think it' || chr(39) || 'll work they' || chr(39) || 've said he' || chr(39) || 'd agree ' || chr(39) || 's'
      |    UNION ALL SELECT 95002, 'rock' || chr(39) || 'sand can' || chr(39) || 'tify a' || chr(39) || chr(39) || 's x.' || chr(39) || 's 9' || chr(39) || 's q' || chr(39) || 're' || chr(39) || 'll !' || chr(39) || 's and ' || chr(39) || 'IT' || chr(39) || 'S' || chr(39) || ' case'
      |    UNION ALL SELECT 95003, 'tabs' || chr(9) || 'and' || chr(10) || 'newlines  double  spaces' || chr(9) || chr(39) || 'd trailing   '
      |  ) WHERE length(text) > 0)""".stripMargin

  /** The GPT-2 scanner replayed as pure window SQL over char positions
    * (q243's oracle chain, parameterized): class changes, the
    * literal-space attach, the all-but-last whitespace split, and
    * scanner-aligned contraction spans. Emits CTEs `{p}ch…{p}toks`;
    * output `{p}toks(doc_id, tid, t)` tiles `src(doc_id, text)`
    * exactly. Non-ASCII errors loudly — the kernel classifies by
    * unicode code point, which this ASCII replay cannot. */
  private def gpt2PreTokCtes(p: String, src: String): String =
    s"""${p}ch AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
       |  FROM $src),
       |${p}cl AS (SELECT doc_id, i, text[i] AS c,
       |    CASE WHEN text[i] IN (' ', chr(9), chr(10), chr(11), chr(12), chr(13))
       |           THEN 0
       |         WHEN regexp_matches(text[i], '^[A-Za-z]$$') THEN 1
       |         WHEN regexp_matches(text[i], '^[0-9]$$') THEN 2
       |         WHEN unicode(text[i]) > 127 OR unicode(text[i]) < 0
       |           THEN CAST(error('non-ASCII in gpt2 pre-token oracle — kernel uses unicode classes; fixture must stay ASCII') AS INTEGER)
       |         ELSE 3 END AS k,
       |    (text[i] = ' ') AS sp,
       |    CASE WHEN text[i] = chr(39) THEN
       |        CASE WHEN substr(text, i + 1, 2) IN ('re', 've', 'll') THEN 3
       |             WHEN substr(text, i + 1, 1) IN ('s', 't', 'm', 'd') THEN 2
       |             ELSE 0 END
       |      ELSE 0 END AS sufx
       |  FROM ${p}ch),
       |${p}fl AS (SELECT doc_id, i, c, k, sp,
       |    CASE WHEN sufx > 0 AND (i = 1 OR lag(k) OVER w IN (1, 2)
       |        OR (lag(k) OVER w = 0 AND NOT lag(sp) OVER w)) THEN sufx
       |      ELSE 0 END AS clen
       |  FROM ${p}cl WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       |${p}bd AS (SELECT doc_id, i, c, k, clen,
       |    lag(k) OVER w AS pk, lag(sp) OVER w AS psp, lead(k) OVER w AS nk,
       |    lag(clen, 1) OVER w AS c1, lag(clen, 2) OVER w AS c2,
       |    lag(clen, 3) OVER w AS c3
       |  FROM ${p}fl WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       |${p}bnd AS (SELECT doc_id, i, c, clen,
       |    CASE
       |      WHEN c1 >= 2 OR c2 = 3 THEN 0
       |      WHEN clen > 0 THEN 1
       |      WHEN c2 = 2 OR c3 = 3 THEN 1
       |      WHEN i = 1 THEN 1
       |      WHEN k <> 0 AND pk = 0 THEN CASE WHEN psp THEN 0 ELSE 1 END
       |      WHEN k <> 0 AND pk <> 0 AND k <> pk THEN 1
       |      WHEN k <> 0 THEN 0
       |      WHEN pk <> 0 THEN 1
       |      ELSE CASE WHEN nk IS NOT NULL AND nk <> 0 THEN 1 ELSE 0 END
       |    END AS b
       |  FROM ${p}bd),
       |${p}tk AS (SELECT doc_id, i, c,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS tid
       |  FROM ${p}bnd),
       |${p}toks AS (SELECT doc_id, tid, string_agg(c, '' ORDER BY i) AS t
       |  FROM ${p}tk GROUP BY 1, 2)""".stripMargin

  /** GPT-2-basis fit replay ([[Bpe.fitGpt2]]): word frequencies from
    * the SAME mix64 sample docs as the lexer fit (`samp` — doc
    * selection depends only on ids), words = space-attached alpha
    * pre-tokens from `gstoks`, then the standard merge-step unroll
    * under `g` names. */
  private def gpt2FitCtes: String = {
    val head =
      s"""gwf AS (SELECT lower(t) AS w, count(*) AS f FROM gstoks
         |  WHERE regexp_matches(t, '$GAlpha') GROUP BY 1),
         |gvocab AS (SELECT w, f FROM gwf ORDER BY f DESC, w LIMIT $MaxWords),
         |gv0 AS MATERIALIZED (SELECT w, f,
         |  list_transform(generate_series(1, length(w)), i -> w[i]) AS s FROM gvocab)""".stripMargin
    val steps = (1 to NumMerges).map { k =>
      s"""gp$k AS (SELECT s[i] AS l, s[i+1] AS r, f FROM (
         |  SELECT f, s, unnest(generate_series(1, len(s) - 1)) AS i FROM gv${k - 1} WHERE len(s) >= 2)),
         |gc$k AS (SELECT l, r, sum(f) AS c FROM gp$k GROUP BY 1, 2),
         |gb$k AS MATERIALIZED (SELECT l, r FROM gc$k WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
         |${applyCtes(s"gf$k", s"gv${k - 1}", s"gb$k", s"gv$k", carryF = true)}""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** GPT-2-basis encode replay ([[Bpe.encodeTextGpt2]]): every distinct
    * alpha-class pre-token of `gdtoks` through all merge passes, then
    * the per-doc ordered stream `gper(doc_id, bt, ok)` — `ok` asserts
    * each pre-token's subwords concatenate back to its (lowered) text,
    * the merge-pass reconstruction check. */
  private def gpt2EncodeCtes: String = {
    val head =
      s"""gcw AS (SELECT DISTINCT lower(t) AS w FROM gdtoks
         |  WHERE regexp_matches(t, '$GAlpha')),
         |ge0 AS MATERIALIZED (SELECT w,
         |  list_transform(generate_series(1, length(w)), i -> w[i]) AS s FROM gcw)""".stripMargin
    val steps = (1 to NumMerges).map(k =>
      applyCtes(s"gx$k", s"ge${k - 1}", s"gb$k", s"ge$k", carryF = false))
    val flat =
      s"""gds AS (SELECT d.doc_id, d.tid,
         |    CASE WHEN regexp_matches(d.t, '$GAlpha') THEN e.s
         |      WHEN regexp_matches(d.t, '^[\\x00-\\x7f]+$$') THEN [d.t]
         |      ELSE [error('non-ASCII pre-token in q256 oracle — gpt2 byte fallback is multi-code-point; fixture must stay ASCII')]
         |      END AS subs,
         |    CASE WHEN regexp_matches(d.t, '$GAlpha') THEN lower(d.t)
         |      ELSE d.t END AS want
         |  FROM gdtoks d LEFT JOIN ge$NumMerges e ON e.w = lower(d.t)),
         |gper AS MATERIALIZED (SELECT doc_id,
         |    flatten(list(subs ORDER BY tid)) AS bt,
         |    min(CASE WHEN array_to_string(subs, '') = want THEN 1 ELSE 0 END) AS ok
         |  FROM gds GROUP BY doc_id)""".stripMargin
    (head +: steps :+ flat).mkString(",\n")
  }

  private def bfdPackChain: String =
    s"""WITH RECURSIVE $fitChain,
             |$encodeChain,
             |nt AS (SELECT d.doc_id, d.doc_id % 8 AS shard,
             |    CAST(coalesce(len(p.bt), 0) AS BIGINT) AS n
             |  FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id),
             |pos AS (SELECT * FROM nt WHERE n > 0),
             |$bfdLandCtes""".stripMargin

  /** The per-shard BFD replay (`bigd` … `land`, budget 512) over a
    * caller-provided `pos(shard, doc_id, n)` CTE — shared by the q239
    * family (pos = doc_id % 8 over BPE counts) and q258 (pos =
    * token-mass-balanced shards over lexer counts). Requires WITH
    * RECURSIVE on the enclosing chain. */
  private def bfdLandCtes: String =
    s"""bigd AS (SELECT shard, doc_id, n,
             |    CAST(coalesce(SUM((n + 511) // 512) OVER (PARTITION BY shard
             |      ORDER BY n DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS seq_id,
             |    CAST((n + 511) // 512 AS BIGINT) AS span
             |  FROM pos WHERE n > 512),
             |sbase AS (SELECT p.shard, CAST(coalesce(b.base, 0) AS BIGINT) AS base
             |  FROM (SELECT DISTINCT shard FROM pos) p
             |  LEFT JOIN (SELECT shard, sum((n + 511) // 512) AS base
             |    FROM pos WHERE n > 512 GROUP BY shard) b ON b.shard = p.shard),
             |small AS (SELECT shard, doc_id, n,
             |    row_number() OVER (PARTITION BY shard ORDER BY n DESC, doc_id) AS rn
             |  FROM pos WHERE n <= 512),
             |pk AS (
             |  SELECT shard, 0 AS rn, CAST([] AS BIGINT[]) AS rems,
             |         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n,
             |         CAST(NULL AS BIGINT) AS bin, CAST(NULL AS BIGINT) AS off
             |  FROM (SELECT DISTINCT shard FROM small)
             |  UNION ALL
             |  SELECT s.shard, s.rn,
             |    CASE WHEN b.bi IS NULL THEN list_append(p.rems, 512 - s.n)
             |         ELSE list_transform(generate_series(1, len(p.rems)),
             |                j -> CASE WHEN j = b.bi THEN p.rems[j] - s.n
             |                     ELSE p.rems[j] END)
             |    END,
             |    s.doc_id, s.n,
             |    CAST(CASE WHEN b.bi IS NULL THEN len(p.rems)
             |         ELSE b.bi - 1 END AS BIGINT),
             |    CAST(CASE WHEN b.bi IS NULL THEN 0
             |         ELSE 512 - p.rems[b.bi] END AS BIGINT)
             |  FROM pk p JOIN small s ON s.shard = p.shard AND s.rn = p.rn + 1,
             |  LATERAL (SELECT list_sort(list_filter(
             |      list_transform(generate_series(1, len(p.rems)),
             |        i -> struct_pack(r := p.rems[i], i := i)),
             |      x -> x.r >= s.n))[1].i AS bi) b
             |),
             |land AS (
             |  SELECT shard, doc_id, n, seq_id, CAST(0 AS BIGINT) AS seq_off,
             |         seq_id + span - 1 AS seq_end, CAST(1 AS BIGINT) AS crossing
             |  FROM bigd
             |  UNION ALL
             |  SELECT k.shard, k.doc_id, k.n, ba.base + k.bin, k.off,
             |         ba.base + k.bin, CAST(0 AS BIGINT)
             |  FROM pk k JOIN sbase ba ON ba.shard = k.shard
             |  WHERE k.doc_id IS NOT NULL)""".stripMargin

  private def fitModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): Bpe.Model =
    Bpe.fit(Tables.load(spark, dir, "documents"), "doc_id", "text",
      SampleDocs, MaxWords, NumMerges)

  // ------------------------------------------------------------------
  // Oracle SQL generators
  // ------------------------------------------------------------------

  /** The apply-one-merge window fold as five CTEs `{p}x…{p}u` + the
    * output word table `out(w[, f], s)`. `src` must have (w[, f], s). */
  private def applyCtes(p: String, src: String, b: String, out: String,
      carryF: Boolean): String = {
    val fSel = if (carryF) "f, " else ""
    val fAgg = if (carryF) "min(f) AS f, " else ""
    s"""${p}x AS (SELECT w, ${fSel}unnest(generate_series(1, len(s))) AS i, s FROM $src),
       |${p}y AS (SELECT w, ${fSel}i, s[i] AS sym,
       |  coalesce(s[i] = (SELECT l FROM $b) AND s[i+1] = (SELECT r FROM $b), FALSE) AS m FROM ${p}x),
       |${p}z AS (SELECT w, ${fSel}i, sym, m,
       |  i - row_number() OVER (PARTITION BY w, m ORDER BY i) AS grp FROM ${p}y),
       |${p}t AS (SELECT w, ${fSel}i, sym, m,
       |  m AND (row_number() OVER (PARTITION BY w, m, grp ORDER BY i) % 2 = 1) AS taken FROM ${p}z),
       |${p}u AS (SELECT w, ${fSel}i, sym, taken,
       |  coalesce(lag(taken) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed,
       |  lead(sym) OVER (PARTITION BY w ORDER BY i) AS nxt FROM ${p}t),
       |$out AS MATERIALIZED (SELECT w, $fAgg
       |  list(CASE WHEN taken THEN sym || nxt ELSE sym END ORDER BY i)
       |    FILTER (WHERE NOT consumed) AS s
       |  FROM ${p}u GROUP BY w)""".stripMargin
  }

  /** PROBE-ENCODE chain: segment a (w, f) words CTE under an already
    * replayed merge table `{bPfx}b1…{bPfx}bM` — chars `{p}0`, then one
    * [[applyCtes]] pass per merge, ending at `{p}M(w, f, s)`. The q322
    * drift probe: the SAME word set encoded under two fitted models. */
  private def applyAllOver(wordsCte: String, bPfx: String,
      p: String): String = {
    val head = s"${p}0 AS (SELECT w, f, list_transform(" +
      s"generate_series(1, length(w)), i -> w[i]) AS s FROM $wordsCte)"
    val steps = (1 to NumMerges).map(k =>
      applyCtes(s"${p}a$k", s"${p}${k - 1}", s"${bPfx}b$k", s"${p}$k",
        carryF = true))
    (head +: steps).mkString(",\n")
  }

  /** The refit/drift cycle's scorecard (q322, q329, q332): fertility
    * of the old model on both samples (`fo`, `fn`) and of the refit on
    * the new one (`fz`), the 10% drift bar and `idchg`'s vocab-id
    * change. */
  private def refitScorecard: String =
    """SELECT 'fert_v1_oldsample_micro' AS check,
      |  CAST(wp * 1000000 // tf AS BIGINT) AS value FROM fo
      |UNION ALL SELECT 'fert_v1_newsample_micro',
      |  CAST(wp * 1000000 // tf AS BIGINT) FROM fn
      |UNION ALL SELECT 'drift_exceeds_bar',
      |  CAST(CASE WHEN 10 * fn.wp * fo.tf > 11 * fo.wp * fn.tf
      |    THEN 1 ELSE 0 END AS BIGINT) FROM fn, fo
      |UNION ALL SELECT 'vocab_id_changed', v FROM idchg
      |UNION ALL SELECT 'fert_v2_newsample_micro',
      |  CAST(wp * 1000000 // tf AS BIGINT) FROM fz
      |UNION ALL SELECT 'refit_improves',
      |  CAST(CASE WHEN fz.wp < fn.wp THEN 1 ELSE 0 END AS BIGINT)
      |  FROM fz, fn
      |UNION ALL SELECT 'artifact_reencode_mismatch', 0
      |UNION ALL SELECT 'old_vocab_refused', 1""".stripMargin

  /** Fit replay: sample → vocab `v0` → merge steps `b1…bM`, `v1…vM`. */
  private def fitChain: String =
    fitChainOver("SELECT doc_id, text FROM documents WHERE text IS NOT NULL", "")

  /** q236's planted jargon tail — heavy enough (×8) that its subword
    * pairs crack the new epoch's top-48 merges. */
  private val q236Jargon: String =
    " crypto blockchain token ledger staking validator" * 8

  /** [[fitChain]] parameterized over the fit corpus and a CTE-name
    * prefix, so two tokenizer fits (q236's epoch drift) can coexist in
    * one WITH chain. With `p = ""` this emits EXACTLY the historical
    * fitChain text — every existing oracle is byte-identical. */
  /** The fit chain's SAMPLE + WORD-FREQUENCY head alone (`{p}base` …
    * `{p}vocab(w, f)`), shared by every tokenizer family's fit replay
    * — doc selection depends only on ids, so BPE / WordPiece fits
    * sample identical documents. */
  private def fitHeadOver(corpusSql: String, p: String): String = {
    val mixPrefix = if (p.isEmpty) "s" else s"${p}s"
    val mixed = if (p.isEmpty) "mixed" else s"${p}smixed"
    s"""${p}base AS ($corpusSql),
       |${RelationalQueries5.mix64Stages(s"${p}base", Seq("doc_id", "text"),
           "CAST(doc_id AS HUGEINT)", prefix = mixPrefix)},
       |${p}samp AS (SELECT doc_id, text FROM $mixed ORDER BY vu LIMIT $SampleDocs),
       |${p}stoks AS (SELECT unnest(regexp_extract_all(text, '$Lex')) AS tok FROM ${p}samp),
       |${p}wf AS (SELECT lower(tok) AS w, count(*) AS f FROM ${p}stoks
       |  WHERE regexp_matches(tok, '$Alpha') GROUP BY 1),
       |${p}vocab AS MATERIALIZED (SELECT w, f FROM ${p}wf ORDER BY f DESC, w LIMIT $MaxWords)""".stripMargin
  }

  private def fitChainOver(corpusSql: String, p: String): String = {
    val head =
      s"""${fitHeadOver(corpusSql, p)},
         |${p}v0 AS MATERIALIZED (SELECT w, f,
         |  list_transform(generate_series(1, length(w)), i -> w[i]) AS s FROM ${p}vocab)""".stripMargin
    val steps = (1 to NumMerges).map { k =>
      s"""${p}p$k AS (SELECT s[i] AS l, s[i+1] AS r, f FROM (
         |  SELECT f, s, unnest(generate_series(1, len(s) - 1)) AS i FROM ${p}v${k - 1} WHERE len(s) >= 2)),
         |${p}c$k AS (SELECT l, r, sum(f) AS c FROM ${p}p$k GROUP BY 1, 2),
         |${p}b$k AS MATERIALIZED (SELECT l, r FROM ${p}c$k WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
         |${applyCtes(s"${p}f$k", s"${p}v${k - 1}", s"${p}b$k", s"${p}v$k", carryF = true)}""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** Encode replay: distinct corpus words through all M passes, then the
    * per-document ordered token stream `per(doc_id, bt)`. */
  private def encodeChain: String =
    encodeChainOver("documents", byteFallback = false)

  /** [[encodeChain]] parameterized over the corpus CTE and the
    * non-ASCII policy. With `byteFallback` the atomic ELSE splits into
    * ASCII-atomic vs the UTF-8 byte split of the single non-ASCII code
    * point (the `\w` lexer is ASCII, so a non-ASCII pre-token is always
    * exactly one code point and the split is pure `unicode(c)`
    * arithmetic — 2/3/4-byte UTF-8 encoding unrolled as CASE arms). */
  private def encodeChainOver(src: String, byteFallback: Boolean): String = {
    def p(expr: String) = s"printf('<0x%02X>', $expr)"
    val cp = "unicode(d.tok)"
    val nonAlpha =
      if (!byteFallback) "ELSE [d.tok]"
      else s"""WHEN regexp_matches(d.tok, '^[\\x00-\\x7f]+$$') THEN [d.tok]
              |    WHEN $cp < 2048 THEN
              |      [${p(s"192 + $cp // 64")}, ${p(s"128 + $cp % 64")}]
              |    WHEN $cp < 65536 THEN
              |      [${p(s"224 + $cp // 4096")}, ${p(s"128 + ($cp // 64) % 64")},
              |       ${p(s"128 + $cp % 64")}]
              |    ELSE
              |      [${p(s"240 + $cp // 262144")}, ${p(s"128 + ($cp // 4096) % 64")},
              |       ${p(s"128 + ($cp // 64) % 64")}, ${p(s"128 + $cp % 64")}]""".stripMargin
    val head =
      s"""ct AS MATERIALIZED (SELECT doc_id,
         |  regexp_extract_all(text, '$Lex') AS t FROM $src),
         |cw AS (SELECT DISTINCT lower(tok) AS w FROM (SELECT unnest(t) AS tok FROM ct)
         |  WHERE regexp_matches(tok, '$Alpha')),
         |e0 AS MATERIALIZED (SELECT w,
         |  list_transform(generate_series(1, length(w)), i -> w[i]) AS s FROM cw)""".stripMargin
    val steps = (1 to NumMerges).map(k =>
      applyCtes(s"e$k", s"e${k - 1}", s"b$k", s"e$k", carryF = false))
    val flat =
      s"""dt AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t FROM ct),
         |dk AS (SELECT doc_id, i, t[i] AS tok FROM dt),
         |ds AS (SELECT d.doc_id, d.i,
         |  CASE WHEN regexp_matches(d.tok, '$Alpha') THEN e.s
         |    $nonAlpha END AS subs
         |  FROM dk d LEFT JOIN e$NumMerges e ON e.w = lower(d.tok)),
         |df AS (SELECT doc_id, i, unnest(generate_series(1, len(subs))) AS j, subs FROM ds),
         |dg AS (SELECT doc_id, i, j, subs[j] AS st FROM df),
         |per AS MATERIALIZED (SELECT doc_id, list(st ORDER BY i, j) AS bt FROM dg GROUP BY doc_id)""".stripMargin
    (head +: steps :+ flat).mkString(",\n")
  }

  private def mergesOracle: String = {
    val union = (1 to NumMerges)
      .map(k => s"SELECT CAST($k AS INTEGER) AS rank, l, r FROM b$k")
      .mkString("\nUNION ALL ")
    s"WITH $fitChain,\nmg AS ($union)\nSELECT rank, l, r FROM mg"
  }

  private def tokensOracle: String =
    s"""WITH $fitChain,
       |$encodeChain
       |SELECT d.doc_id,
       |  CAST(coalesce(len(p.bt), 0) AS BIGINT) AS n_tok,
       |  CAST(coalesce(list_sum(list_transform(p.bt, x -> length(x) * length(x))), 0) AS BIGINT) AS sq_len,
       |  coalesce(array_to_string(p.bt[1:5], ' '), '') AS head5
       |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id""".stripMargin

  /** q144: the q139 chunk arithmetic verbatim, but over the BPE token
    * stream `per.bt` instead of the raw lexer tokens. */
  private def chunkingOracle(chunk: Int, overlap: Int): String = {
    val stride = chunk - overlap
    s"""WITH $fitChain,
       |$encodeChain,
       |st AS (SELECT doc_id, bt AS t, len(bt) AS n FROM per WHERE len(bt) > 0),
       |nc AS (SELECT doc_id, t, n,
       |  CASE WHEN n <= $chunk THEN 1
       |    ELSE (n - $chunk + ${stride - 1}) // $stride + 1 END AS n_chunks
       |  FROM st),
       |ch AS (SELECT doc_id, t, n,
       |  unnest(generate_series(0, n_chunks - 1)) AS ci FROM nc),
       |pc AS (SELECT doc_id, ci,
       |  least($chunk, n - ci * $stride) AS c_n,
       |  t[ci * $stride + 1] AS first_tok,
       |  t[ci * $stride + least($chunk, n - ci * $stride)] AS last_tok
       |  FROM ch)
       |SELECT doc_id % 10 AS bucket, count(*) AS n_chunks,
       |  count(DISTINCT doc_id) AS n_docs,
       |  CAST(sum(c_n) AS BIGINT) AS token_sum,
       |  CAST(max(ci) AS BIGINT) AS max_chunk_idx,
       |  CAST(sum(length(first_tok)) AS BIGINT) AS first_len_sum,
       |  CAST(sum(length(last_tok)) AS BIGINT) AS last_len_sum
       |FROM pc GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // Registered queries
  // ------------------------------------------------------------------

  def all: Seq[Q] = Seq(

    // The fitted merge table itself, rank by rank — the most direct gate
    // on the fit: any drift in sampling, vocab capping, pair counting,
    // tie order, or the merge pass changes some (rank, l, r) row.
    Q("q143_bpe_merges",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        import spark.implicits._
        model.merges.zipWithIndex
          .map { case (m, i) => (i + 1, m.l, m.r) }
          .toDF("rank", "l", "r")
      },
      Some(mergesOracle)),

    // Per-document encoding: token count, sum of squared subword lengths
    // (merge-sensitive — plain length sums are merge-INVARIANT since BPE
    // preserves characters), and the first five tokens verbatim.
    Q("q142_bpe_tokens",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        d.select(col("doc_id"), Bpe.encodeCol(col("text"), model).as("_bt"))
          .select(col("doc_id"),
            size(col("_bt")).cast("long").as("n_tok"),
            aggregate(col("_bt"), lit(0L),
              (acc, t) => acc + (length(t) * length(t)).cast("long"))
              .as("sq_len"),
            concat_ws(" ", slice(col("_bt"), 1, 5)).as("head5"))
      },
      Some(tokensOracle)),

    // Token-window chunking re-based on REAL tokenizer tokens (the q139
    // arithmetic over the BPE stream): what a context-window packer
    // actually budgets. 64-token chunks, 16-token overlap.
    Q("q144_bpe_chunking",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Curation.chunkTokenArray(
            d.select(col("doc_id"), col("text")),
            "doc_id", Bpe.encodeCol(col("text"), model), 64, 16)
          .groupBy((col("doc_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("chunk_tokens")).as("token_sum"),
            max(col("chunk_idx")).cast("long").as("max_chunk_idx"),
            sum(length(col("first_token"))).as("first_len_sum"),
            sum(length(col("last_token"))).as("last_len_sum"))
      },
      Some(chunkingOracle(64, 16))),

    // TOKENIZER FERTILITY / COMPRESSION report — the metric a tokenizer
    // is judged by before any training run: per language, BPE tokens
    // per word (fertility — how much the tokenizer fragments text) and
    // characters per BPE token (compression). Composes the gated BPE
    // encode with plain aggregations; ratios divide once and round
    // once, zero-word/token languages guarded to exact 0. High-fertility
    // languages are the ones a shared vocabulary underserves — the
    // signal multilingual vocab sizing (and q205's mixture weighting)
    // consumes.
    Q("q217_tokenizer_fertility",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        d.select(col("lang"),
            length(col("text")).cast("long").as("n_chars"),
            size(org.apache.spark.sql.functions.filter(
              graft.functions.TextFunctions.tokens(lower(col("text"))),
              t => length(t) > 0)).cast("long").as("n_words"),
            size(Bpe.encodeCol(col("text"), model)).cast("long").as("n_tok"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_tok")).as("n_tokens"))
          .select(col("lang"), col("n_docs"), col("n_chars"),
            col("n_words"), col("n_tokens"),
            round(col("n_tokens").cast("double")
              / greatest(col("n_words"), lit(1L)), 4).as("fertility"),
            round(col("n_chars").cast("double")
              / greatest(col("n_tokens"), lit(1L)), 4).as("chars_per_token"))
      },
      Some(s"""WITH $fitChain,
             |$encodeChain,
             |st AS (SELECT d.doc_id, d.lang,
             |    CAST(length(d.text) AS BIGINT) AS n_chars,
             |    CAST(len(list_filter(string_split_regex(
             |      lower(regexp_replace(d.text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
             |      t -> t <> '')) AS BIGINT) AS n_words,
             |    CAST(coalesce(len(p.bt), 0) AS BIGINT) AS n_tok
             |  FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id)
             |SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             |  CAST(SUM(n_words) AS BIGINT) AS n_words,
             |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             |  round(CAST(SUM(n_tok) AS DOUBLE) / greatest(SUM(n_words), 1), 4)
             |    AS fertility,
             |  round(CAST(SUM(n_chars) AS DOUBLE) / greatest(SUM(n_tok), 1), 4)
             |    AS chars_per_token
             |FROM st GROUP BY lang""".stripMargin)),

    // Unigram surprisal re-based on REAL tokenizer tokens (the q94
    // arithmetic over the BPE stream): quality scoring against the
    // distribution of the tokens a training pipeline actually counts.
    // Same integer micro-nat fixing (surprisal rounded per DISTINCT
    // token before any per-doc summing — double sums would be
    // aggregation-order-dependent), same %7 doc sample.
    Q("q149_bpe_surprisal",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Curation.unigramSurprisalTokens(d, "doc_id",
            Bpe.encodeCol(col("text"), model))
          .filter(col("id") % 7 === 0)
          .select(col("id").as("doc_id"), col("n_tokens"),
            col("mean_surprisal"))
      },
      Some(s"""WITH $fitChain,
             |$encodeChain,
             |btoks AS (SELECT doc_id, unnest(bt) AS tok FROM per),
             |counts AS (SELECT tok, count(*) AS c FROM btoks GROUP BY tok),
             |tot AS (SELECT sum(c) AS n FROM counts),
             |surp AS (SELECT tok,
             |    CAST(round(-ln(CAST(c AS DOUBLE) / n) * 1000000) AS BIGINT) AS s
             |  FROM counts, tot)
             |SELECT doc_id, count(*) AS n_tokens,
             |  round(CAST(sum(s) AS DOUBLE) / count(*) / 1000000, 4) AS mean_surprisal
             |FROM btoks JOIN surp USING (tok)
             |WHERE doc_id % 7 = 0
             |GROUP BY doc_id""".stripMargin)),

    // Sequence packing over the BPE stream (Curation.packSequences):
    // concatenate docs in id order within 8 hash shards, cut at
    // 512-token boundaries — the training-batch construction. The gate
    // hashes per-(shard, seq) landing stats: where every doc STARTS is
    // a function of every token count before it, so one mis-tokenized
    // doc shifts its whole shard's tail.
    Q("q150_bpe_packing",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Curation.packSequences(d, "doc_id",
            Bpe.encodeCol(col("text"), model), budgetTokens = 512, shards = 8)
          .groupBy(col("shard"), col("seq_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("token_sum"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
      },
      Some(s"""WITH $fitChain,
             |$encodeChain,
             |nt AS (SELECT d.doc_id, d.doc_id % 8 AS shard,
             |    CAST(coalesce(len(p.bt), 0) AS BIGINT) AS n_tokens
             |  FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id),
             |offs AS (SELECT doc_id, shard, n_tokens,
             |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
             |  FROM nt)
             |SELECT shard, CAST(start_off // 512 AS BIGINT) AS seq_id, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS token_sum,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM offs GROUP BY 1, 2""".stripMargin)),

    // TOKENIZER VOCAB DRIFT — q230/q231's tokenizer sibling: two BPE
    // fits, one per epoch (old = even docs; new = odd docs with a
    // heavy planted jargon tail on %10==1), compared merge-for-merge:
    // for each NEW merge, whether it exists in the old tokenizer and
    // at what rank — the report that decides whether a corpus shift
    // forces a re-tokenization (changed merges invalidate every cached
    // token id downstream). Oracle: the fit chain factored over
    // (corpusSql, prefix) so BOTH 48-step fits replay in one WITH
    // chain ('o'/'n' prefixes); q143's single-fit oracle is
    // byte-identical under the refactor.
    Q("q236_tokenizer_vocab_drift",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val oldC = d.filter(col("doc_id") % 2 === 0)
        val newC = d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 1,
              concat(col("text"), lit(q236Jargon))).otherwise(col("text"))
              .as("text"))
        val mo = Bpe.fit(oldC, "doc_id", "text", SampleDocs, MaxWords, NumMerges)
        val mn = Bpe.fit(newC, "doc_id", "text", SampleDocs, MaxWords, NumMerges)
        val oldRank = mo.merges.zipWithIndex
          .map { case (m, i) => (m.l, m.r) -> (i + 1) }.toMap
        mn.merges.zipWithIndex.map { case (m, i) =>
          (i + 1, m.l, m.r,
            if (oldRank.contains((m.l, m.r))) 1L else 0L,
            oldRank.getOrElse((m.l, m.r), -1).toLong)
        }.toDF("rank", "l", "r", "shared", "old_rank")
      },
      Some {
        val oUnion = (1 to NumMerges)
          .map(k => s"SELECT CAST($k AS INTEGER) AS rank, l, r FROM ob$k")
          .mkString("\nUNION ALL ")
        val nUnion = (1 to NumMerges)
          .map(k => s"SELECT CAST($k AS INTEGER) AS rank, l, r FROM nb$k")
          .mkString("\nUNION ALL ")
        s"""WITH ${fitChainOver(
              "SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0",
              "o")},
           |${fitChainOver(
              "SELECT doc_id, CASE WHEN doc_id % 10 = 1 THEN text || '" + q236Jargon +
                "' ELSE text END AS text FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1",
              "n")},
           |omg AS ($oUnion),
           |nmg AS ($nUnion)
           |SELECT n.rank, n.l, n.r,
           |  CAST(CASE WHEN o.rank IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           |    AS shared,
           |  CAST(coalesce(o.rank, -1) AS BIGINT) AS old_rank
           |FROM nmg n LEFT JOIN omg o ON o.l = n.l AND o.r = n.r""".stripMargin
      }),

    // PACKING EFFICIENCY REPORT — the trainer-facing audit of q150's
    // concatenation packing: per shard, how many 512-token sequences
    // the shard fills, how full the final partial sequence is
    // (tail_fill = total % 512), and how many docs STRADDLE a sequence
    // boundary (their attention span is split across sequences — the
    // fraction that motivates doc-boundary-aware packing). Pure
    // integer arithmetic over the q150 offsets; the oracle reuses the
    // same fit+encode+offsets replay.
    Q("q234_packing_efficiency",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Curation.packSequences(d, "doc_id",
            Bpe.encodeCol(col("text"), model), budgetTokens = 512, shards = 8)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            expr("CAST((sum(n_tokens) + 511) DIV 512 AS BIGINT)").as("n_seqs"),
            expr("CAST(sum(n_tokens) % 512 AS BIGINT)").as("tail_fill"),
            sum(when(col("n_tokens") > 0 &&
              expr("start_off DIV 512") =!= expr("(start_off + n_tokens - 1) DIV 512"),
              1L).otherwise(0L)).as("crossing_docs"))
          .select(col("shard"), col("n_docs"), col("total_tokens"),
            col("n_seqs"), col("tail_fill"), col("crossing_docs"),
            round(col("crossing_docs").cast("double") / col("n_docs"), 6)
              .as("crossing_frac"))
      },
      Some(s"""WITH $fitChain,
             |$encodeChain,
             |nt AS (SELECT d.doc_id, d.doc_id % 8 AS shard,
             |    CAST(coalesce(len(p.bt), 0) AS BIGINT) AS n_tokens
             |  FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id),
             |offs AS (SELECT doc_id, shard, n_tokens,
             |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
             |  FROM nt)
             |SELECT shard, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |  CAST((sum(n_tokens) + 511) // 512 AS BIGINT) AS n_seqs,
             |  CAST(sum(n_tokens) % 512 AS BIGINT) AS tail_fill,
             |  CAST(sum(CASE WHEN n_tokens > 0
             |    AND start_off // 512 <> (start_off + n_tokens - 1) // 512
             |    THEN 1 ELSE 0 END) AS BIGINT) AS crossing_docs,
             |  round(CAST(sum(CASE WHEN n_tokens > 0
             |    AND start_off // 512 <> (start_off + n_tokens - 1) // 512
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS crossing_frac
             |FROM offs GROUP BY shard""".stripMargin)),

    // DOC-BOUNDARY-AWARE PACKING (Curation.packSequencesBestFit) — the
    // operator q234's 24% crossing fraction demands: best-fit-decreasing
    // bin packing within each shard, so NO doc ≤ the 512 budget ever
    // straddles a sequence boundary (crossing_docs counts only docs
    // LONGER than the budget — provably unavoidable), at the cost of
    // explicit padding (padding_tokens = n_seqs·512 − total). Same
    // BPE-token basis / budget / shards as q234, so the two reports
    // compare directly: crossing_frac drops from q234's ~24% to 0 here
    // and the price appears as padding. landing_sum is an exact-integer
    // checksum over every (doc → seq_id, seq_off) decision; the oracle
    // replays the whole packing — dedicated sequences for oversized
    // docs, then the best-fit fold as a recursive CTE choosing the
    // fullest bin that fits (ties → lowest bin id), bit-identical.
    Q("q239_boundary_aware_packing",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Curation.packSequencesBestFit(d, "doc_id",
            Bpe.encodeCol(col("text"), model), budgetTokens = 512, shards = 8)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            (max(col("seq_end")) + 1).as("n_seqs"),
            ((max(col("seq_end")) + 1) * 512 - sum(col("n_tokens")))
              .as("padding_tokens"),
            sum(col("crossing")).as("crossing_docs"),
            round(sum(col("crossing")).cast("double") / count(lit(1)), 6)
              .as("crossing_frac"),
            sum(col("doc_id") * (col("seq_id") * 1048576L + col("seq_off") + 1))
              .as("landing_sum"))
      },
      Some(bfdPackChain +
        s"""
             |SELECT CAST(shard AS BIGINT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n) AS BIGINT) AS total_tokens,
             |  CAST(max(seq_end) + 1 AS BIGINT) AS n_seqs,
             |  CAST((max(seq_end) + 1) * 512 - sum(n) AS BIGINT) AS padding_tokens,
             |  CAST(sum(crossing) AS BIGINT) AS crossing_docs,
             |  round(CAST(sum(crossing) AS DOUBLE) / count(*), 6) AS crossing_frac,
             |  CAST(sum(doc_id * (seq_id * 1048576 + seq_off + 1)) AS BIGINT)
             |    AS landing_sum
             |FROM land GROUP BY shard""".stripMargin)),

    // PER-SEQUENCE PACKING MANIFEST — the file a pre-tokenized dataset
    // WRITER actually emits next to its shards: for every (shard,
    // sequence) of the q239 boundary-aware packing, how many docs the
    // sequence holds, its fill and padding, and whether an oversized
    // doc occupies it. Per-doc landings expand to per-sequence rows
    // (an oversized doc contributes a full 512 to every slab but its
    // last — pure integer arithmetic both engines replay); packed
    // sequences never exceed the budget BY CONSTRUCTION, and the gate
    // hashes every row, so one wrong slab moves its sequence. The
    // oracle reuses the full q239 recursive replay plus the same
    // expansion.
    Q("q252_packing_manifest",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Curation.packSequencesBestFit(d, "doc_id",
            Bpe.encodeCol(col("text"), model), budgetTokens = 512, shards = 8)
          .select(col("shard"), col("doc_id"), col("n_tokens"),
            col("seq_id"), col("seq_end"), col("crossing"),
            explode(sequence(col("seq_id"), col("seq_end"))).as("seq"))
          .withColumn("t",
            when(col("crossing") === 0, col("n_tokens"))
              .when(col("seq") < col("seq_end"), lit(512L))
              .otherwise(col("n_tokens")
                - (col("seq_end") - col("seq_id")) * 512L))
          .groupBy(col("shard"), col("seq"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("t")).as("fill_tokens"),
            (lit(512L) - sum(col("t"))).as("pad_tokens"),
            max(col("crossing")).as("has_oversized"))
          .select(col("shard"), col("seq").as("seq_id"), col("n_docs"),
            col("fill_tokens"), col("pad_tokens"), col("has_oversized"))
      },
      Some(bfdPackChain +
        s"""
          |,ex AS (SELECT shard, doc_id, crossing, seq_id, seq_end, n,
          |    unnest(generate_series(seq_id, seq_end)) AS seq FROM land),
          |tis AS (SELECT shard, seq, doc_id, crossing,
          |    CASE WHEN crossing = 0 THEN n
          |         WHEN seq < seq_end THEN 512
          |         ELSE n - (seq_end - seq_id) * 512 END AS t
          |  FROM ex)
          |SELECT CAST(shard AS BIGINT) AS shard, CAST(seq AS BIGINT) AS seq_id,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(t) AS BIGINT) AS fill_tokens,
          |  CAST(512 - sum(t) AS BIGINT) AS pad_tokens,
          |  CAST(max(crossing) AS BIGINT) AS has_oversized
          |FROM tis GROUP BY shard, seq""".stripMargin)),

    // TOKEN-MASS-BALANCED PACKING SHARDS (Curation.balancedShards +
    // packSequencesBestFitBalanced, r15 missing #6): `id % shards` puts
    // unbounded token mass on one task under id-correlated length skew
    // — this fixture PLANTS exactly that (every doc_id ≡ 0 mod 8 is 8×
    // longer, so naive shard 0 carries ~4× the mean). Running-mass
    // binning assigns shard = ⌊prefix_mass · 8 / total⌋ instead; the
    // gate emits per-shard load factors in micro units under BOTH
    // assignments (balanced ≈ 1.0×, naive shard 0 visibly heavy) plus
    // the q239-parity packing stats (n_seqs, crossing) of the BFD run
    // over the balanced shards. Oracle replays the prefix-sum
    // assignment as one window + the recursive best-fit replay.
    Q("q258_balanced_packing_shards",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") % 8 === 0,
              expr("repeat(concat(text, ' '), 8)"))
              .otherwise(col("text")).as("text"))
        def toks = graft.functions.TextFunctions.tokens(col("text"))
        val packed = graft.operators.Curation.packSequencesBestFitBalanced(
          d, "doc_id", toks, budgetTokens = 512, shards = 8)
        val nt = d.select(col("doc_id"), size(toks).cast("long").as("n"))
          .filter(col("n") > 0)
        val tot = nt.agg(sum(col("n")).as("_T"))
        val naive = nt.groupBy((col("doc_id") % 8).as("shard"))
          .agg(sum(col("n")).as("naive_mass"))
        packed.groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("bal_mass"),
            (max(col("seq_end")) + 1).as("n_seqs"),
            sum(col("crossing")).as("crossing_docs"))
          .join(naive, Seq("shard"))
          .crossJoin(broadcast(tot))
          .select(col("shard"), col("n_docs"), col("bal_mass"),
            col("naive_mass"), col("n_seqs"), col("crossing_docs"),
            expr("CAST(bal_mass * 8000000 DIV _T AS BIGINT)")
              .as("bal_load_micro"),
            expr("CAST(naive_mass * 8000000 DIV _T AS BIGINT)")
              .as("naive_load_micro"))
      },
      Some(s"""WITH RECURSIVE docs2 AS (
             |  SELECT doc_id, CASE WHEN doc_id % 8 = 0
             |    THEN repeat(text || ' ', 8) ELSE text END AS text
             |  FROM documents),
             |nt AS (SELECT doc_id, CAST(len(string_split_regex(
             |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+'))
             |    AS BIGINT) AS n FROM docs2),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM nt WHERE n > 0),
             |pre AS (SELECT doc_id, n,
             |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS p
             |  FROM nt WHERE n > 0),
             |pos AS (SELECT CAST((p * 8) // (SELECT t FROM tot) AS BIGINT)
             |    AS shard, doc_id, n FROM pre),
             |$bfdLandCtes,
             |bal AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(n) AS BIGINT) AS bal_mass,
             |    CAST(max(seq_end) + 1 AS BIGINT) AS n_seqs,
             |    CAST(sum(crossing) AS BIGINT) AS crossing_docs
             |  FROM land GROUP BY shard),
             |naive AS (SELECT doc_id % 8 AS shard,
             |    CAST(sum(n) AS BIGINT) AS naive_mass
             |  FROM nt WHERE n > 0 GROUP BY 1)
             |SELECT b.shard, b.n_docs, b.bal_mass, nv.naive_mass, b.n_seqs,
             |  b.crossing_docs,
             |  CAST(b.bal_mass * 8000000 // (SELECT t FROM tot) AS BIGINT)
             |    AS bal_load_micro,
             |  CAST(nv.naive_mass * 8000000 // (SELECT t FROM tot) AS BIGINT)
             |    AS naive_load_micro
             |FROM bal b JOIN naive nv USING (shard)""".stripMargin)),

    // GPT-2-PATTERN PRE-TOKENIZER (Bpe.gpt2PreTokenize) — the
    // production-fidelity lexer variant (round-14 missing #5): the
    // byte-level-BPE pre-tokenization GPT-2 actually runs, with
    // contraction splitting and literal-space attachment (" the" ≠
    // "the"). The kernel is spec-pinned token-for-token to the literal
    // Java regex (whose \s+(?!\S) lookahead RE2 cannot run); the
    // oracle replays the scanner semantics as pure window SQL over
    // char positions — class changes, the literal-space attach, the
    // all-but-last whitespace split, scanner-aligned contraction spans
    // — and the gate hashes the full per-doc token stream plus the
    // tiling round-trip (concat(tokens) must equal the text exactly).
    Q("q243_gpt2_pretokenizer",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(plantedGpt2Docs(spark))
          .filter(length(col("text")) > 0)
        d.select(col("doc_id"), col("text"),
            Bpe.gpt2PreTokensCol(col("text")).as("_t"))
          .select(col("doc_id"),
            size(col("_t")).cast("long").as("n_pretokens"),
            expr("CAST(size(filter(_t, x -> x IN " +
              "(\"'s\",\"'t\",\"'re\",\"'ve\",\"'m\",\"'ll\",\"'d\"))) AS BIGINT)")
              .as("n_contractions"),
            sha2(array_join(col("_t"), "\u001f"), 256).as("pretok_sha"),
            when(array_join(col("_t"), "") === col("text"), 1L).otherwise(0L)
              .as("roundtrip_ok"))
      },
      Some(s"""WITH $gpt2DocsCte,
             |${gpt2PreTokCtes("", "docs")}
             |SELECT x.doc_id,
             |  CAST(count(*) AS BIGINT) AS n_pretokens,
             |  CAST(sum(CASE WHEN t IN (chr(39)||'s', chr(39)||'t', chr(39)||'re',
             |    chr(39)||'ve', chr(39)||'m', chr(39)||'ll', chr(39)||'d')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contractions,
             |  sha256(string_agg(t, chr(31) ORDER BY tid)) AS pretok_sha,
             |  CAST(CASE WHEN string_agg(t, '' ORDER BY tid) = min(d.text)
             |    THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok
             |FROM toks x JOIN docs d ON d.doc_id = x.doc_id
             |GROUP BY x.doc_id""".stripMargin)),

    // BPE OVER GPT-2 PRE-TOKENS (Bpe.fitGpt2 + encodeTextGpt2) — the
    // production composition (r15 missing #3): byte-level-BPE's
    // defining property is that the leading literal space is part of
    // the word (" the" and "the" carry separate merge statistics), and
    // contractions stay atomic ('t never merges into "don t"-style
    // lexer splits). Fit and encode run on the scanner's pre-tokens in
    // ONE fused pass per doc; the oracle replays the scanner (window
    // SQL, shared with q243), the fit (same mix64 sample docs — doc
    // selection depends only on ids), every merge step, and every
    // encode pass. The lexer-basis stream rides alongside (same docs,
    // the existing fit+encode replay) so the fidelity delta is IN the
    // gate: the contraction-heavy planted docs and every spaced doc
    // must tokenize differently (shas differ, counts differ), and
    // rebuild_ok pins that merged subwords still tile each pre-token.
    Q("q256_bpe_gpt2_basis",
      (spark, dir) => {
        val base = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val d = base.unionByName(plantedGpt2Docs(spark))
          .filter(length(col("text")) > 0)
        val lexModel = fitModel(spark, dir)
        val gModel = Bpe.fitGpt2(Tables.load(spark, dir, "documents"),
          "doc_id", "text", SampleDocs, MaxWords, NumMerges)
        d.select(col("doc_id"), col("text"),
            Bpe.encodeGpt2Col(col("text"), gModel).as("_g"),
            Bpe.encodeCol(col("text"), lexModel).as("_l"),
            Bpe.gpt2PreTokensCol(col("text")).as("_pt"))
          .select(col("doc_id"),
            size(col("_g")).cast("long").as("n_tok_gpt2"),
            size(col("_l")).cast("long").as("n_tok_lex"),
            sha2(array_join(col("_g"), "\u001f"), 256).as("gpt2_sha"),
            sha2(array_join(col("_l"), "\u001f"), 256).as("lex_sha"),
            array_join(slice(col("_g"), 1, 5), " ").as("head5"),
            expr("CAST(size(filter(_g, x -> x IN " +
              "(\"'s\",\"'t\",\"'re\",\"'ve\",\"'m\",\"'ll\",\"'d\"))) AS BIGINT)")
              .as("n_contraction_toks"),
            when(array_join(col("_g"), "") === array_join(expr(
              "transform(_pt, x -> CASE WHEN x rlike '^ ?[A-Za-z]+$' " +
                "THEN lower(x) ELSE x END)"), ""), 1L)
              .otherwise(0L).as("rebuild_ok"))
      },
      Some(s"""WITH $gpt2DocsCte,
             |$fitChain,
             |${encodeChainOver("docs", byteFallback = false)},
             |${gpt2PreTokCtes("gs", "samp")},
             |$gpt2FitCtes,
             |${gpt2PreTokCtes("gd", "docs")},
             |$gpt2EncodeCtes
             |SELECT d.doc_id,
             |  CAST(len(gp.bt) AS BIGINT) AS n_tok_gpt2,
             |  CAST(coalesce(len(p.bt), 0) AS BIGINT) AS n_tok_lex,
             |  sha256(coalesce(array_to_string(gp.bt, chr(31)), '')) AS gpt2_sha,
             |  sha256(coalesce(array_to_string(p.bt, chr(31)), '')) AS lex_sha,
             |  array_to_string(gp.bt[1:5], ' ') AS head5,
             |  CAST(len(list_filter(gp.bt, x -> x IN (chr(39)||'s',
             |    chr(39)||'t', chr(39)||'re', chr(39)||'ve', chr(39)||'m',
             |    chr(39)||'ll', chr(39)||'d'))) AS BIGINT) AS n_contraction_toks,
             |  CAST(gp.ok AS BIGINT) AS rebuild_ok
             |FROM docs d JOIN gper gp ON gp.doc_id = d.doc_id
             |LEFT JOIN per p ON p.doc_id = d.doc_id""".stripMargin)),

    // GPT-2-BASIS TOKEN IDS (q171 ∘ q256) — the downstream layer the
    // r15 verdict said "inherits the fidelity gap until it lands": the
    // stored id-stream form, rebased on the production pre-tokenizer.
    // Same deterministic vocabulary rule (corpus frequency DESC, token
    // ASC) over the gpt2-basis subword stream — " the"-class tokens get
    // their own ids, contractions their own rows. Oracle = the gpt2
    // fit+encode replay (q256's chains) + the ranked-vocab join.
    Q("q265_gpt2_token_ids",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val model = Bpe.fitGpt2(d, "doc_id", "text",
          SampleDocs, MaxWords, NumMerges)
        val toks = graft.operators.OperatorCaches.track(
          d.select(col("doc_id"),
            posexplode(Bpe.encodeGpt2Col(col("text"), model))
              .as(Seq("pos", "tok"))).persist())
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .withColumn("id",
            row_number().over(Window.orderBy(col("c").desc, col("tok"))))
          .select(col("tok"), col("id"))
        toks.join(broadcast(vocab), Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"),
            sum(col("id").cast("long") * (col("pos") + 1)).as("id_weighted_sum"),
            min(col("id")).cast("long").as("min_id"))
      },
      Some(s"""WITH $fitChain,
             |gdsrc AS (SELECT doc_id, text FROM documents
             |  WHERE length(text) > 0),
             |${gpt2PreTokCtes("gs", "samp")},
             |$gpt2FitCtes,
             |${gpt2PreTokCtes("gd", "gdsrc")},
             |$gpt2EncodeCtes,
             |btoks AS (SELECT doc_id, bt[i] AS tok, i
             |  FROM gper, unnest(generate_series(1, len(bt))) AS s(i)),
             |tcounts AS (SELECT tok, count(*) AS c FROM btoks GROUP BY tok),
             |tvocab AS (SELECT tok,
             |  ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS id FROM tcounts)
             |SELECT b.doc_id, count(*) AS n_tok,
             |  CAST(sum(v.id * b.i) AS BIGINT) AS id_weighted_sum,
             |  CAST(min(v.id) AS BIGINT) AS min_id
             |FROM btoks b JOIN tvocab v USING (tok)
             |GROUP BY b.doc_id""".stripMargin)),

    // Token-ID encoding: the form a tokenized corpus is actually STORED
    // in — a deterministic vocabulary (subwords ranked by corpus
    // frequency DESC, token ASC) maps the q142 stream to int ids. The
    // vocabulary is BOUNDED (≤ distinct subwords ≈ vocab cap + merges),
    // so its global ranking window and the broadcast id-map are
    // constant-size at any corpus scale; the encode side stays a narrow
    // per-doc pass. Gate hashes a position-weighted id sum per doc —
    // one wrong id or one shifted position breaks it. Oracle extends
    // the full fit+encode replay with the ranked vocab join.
    Q("q171_bpe_token_ids",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        val toks = graft.operators.OperatorCaches.track(
          d.select(col("doc_id"),
            posexplode(Bpe.encodeCol(col("text"), model))
              .as(Seq("pos", "tok"))).persist())
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .withColumn("id",
            row_number().over(Window.orderBy(col("c").desc, col("tok"))))
          .select(col("tok"), col("id"))
        toks.join(broadcast(vocab), Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"),
            sum(col("id").cast("long") * (col("pos") + 1)).as("id_weighted_sum"),
            min(col("id")).cast("long").as("min_id"))
      },
      Some(s"""WITH $fitChain,
             |$encodeChain,
             |btoks AS (SELECT doc_id, bt[i] AS tok, i
             |  FROM per, unnest(generate_series(1, len(bt))) AS s(i)),
             |tcounts AS (SELECT tok, count(*) AS c FROM btoks GROUP BY tok),
             |tvocab AS (SELECT tok,
             |  ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS id FROM tcounts)
             |SELECT b.doc_id, count(*) AS n_tok,
             |  CAST(sum(v.id * b.i) AS BIGINT) AS id_weighted_sum,
             |  CAST(min(v.id) AS BIGINT) AS min_id
             |FROM btoks b JOIN tvocab v USING (tok)
             |GROUP BY b.doc_id""".stripMargin)),

    // TRAINING SHARDS end-to-end (q150 ∘ q171): the file a trainer
    // actually reads — per-doc token-ID streams concatenated in doc
    // order within 8 hash shards and cut at 512-token boundaries, docs
    // SPANNING sequences (token t of a doc lands at global offset
    // start_off + t, sequence idx DIV 512, slot idx MOD 512). The gate
    // hashes per-(shard, seq) token counts, doc counts, and a
    // slot-weighted id sum — one mis-tokenized doc, one wrong vocab id,
    // or one shifted boundary moves every later slot in its shard.
    Q("q173_training_shards",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        val toks = graft.operators.OperatorCaches.track(
          d.select(col("doc_id"),
            posexplode(Bpe.encodeCol(col("text"), model))
              .as(Seq("pos", "tok"))).persist())
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .withColumn("id",
            row_number().over(Window.orderBy(col("c").desc, col("tok"))))
          .select(col("tok"), col("id"))
        val offs = graft.operators.Curation.packSequences(d, "doc_id",
            Bpe.encodeCol(col("text"), model), budgetTokens = 512, shards = 8)
          .select(col("doc_id"), col("shard"), col("start_off"))
        toks.join(broadcast(vocab), Seq("tok"))
          .join(offs, Seq("doc_id"))
          .withColumn("idx", col("start_off") + col("pos"))
          .select(col("shard"), expr("idx DIV 512").as("seq_id"),
            col("doc_id"), col("id"), (col("idx") % 512).as("off"))
          .groupBy(col("shard"), col("seq_id"))
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("id").cast("long") * (col("off") + 1)).as("id_wsum"),
            max(col("off")).cast("long").as("last_off"))
      },
      Some(s"""WITH $fitChain,
             |$encodeChain,
             |btoks AS (SELECT doc_id, bt[i] AS tok, i
             |  FROM per, unnest(generate_series(1, len(bt))) AS s(i)),
             |tcounts AS (SELECT tok, count(*) AS c FROM btoks GROUP BY tok),
             |tvocab AS (SELECT tok,
             |  ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS id FROM tcounts),
             |nt AS (SELECT d.doc_id, d.doc_id % 8 AS shard,
             |    CAST(coalesce(len(p.bt), 0) AS BIGINT) AS n_tokens
             |  FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id),
             |offs AS (SELECT doc_id, shard,
             |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
             |  FROM nt),
             |tok AS (SELECT b.doc_id, o.shard, o.start_off + b.i - 1 AS idx, v.id
             |  FROM btoks b JOIN tvocab v USING (tok)
             |  JOIN offs o ON o.doc_id = b.doc_id)
             |SELECT shard, CAST(idx // 512 AS BIGINT) AS seq_id,
             |  count(*) AS n_tokens, count(DISTINCT doc_id) AS n_docs,
             |  CAST(sum(id * ((idx % 512) + 1)) AS BIGINT) AS id_wsum,
             |  CAST(max(idx % 512) AS BIGINT) AS last_off
             |FROM tok GROUP BY 1, 2""".stripMargin)),

    // BPE decode round-trip: the property every tokenized-corpus writer
    // relies on. The MARKED stream (Bpe.encodeTextMarked — word-initial
    // subwords carry the ▁ marker, the SentencePiece convention; the
    // flat q142 stream is deliberately not decodable) decodes back to
    // the canonical lex form: pre-tokens space-joined, alpha lowercased.
    // The oracle computes that canonical form DIRECTLY from the raw text
    // — it is merge-invariant by construction, so any encode/decode
    // asymmetry (a lost subword, a marker on the wrong token, a
    // mis-merged word changing characters) breaks the per-doc md5.
    // encode∘decode = id on the token stream is spec-pinned
    // (BpeSpec), including adversarial inputs.
    Q("q163_bpe_roundtrip",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        d.select(col("doc_id"),
            Bpe.decodeCol(Bpe.encodeMarkedCol(col("text"), model))
              .as("decoded"))
          .select(col("doc_id"),
            length(col("decoded")).cast("long").as("n_chars"),
            md5(col("decoded").cast("binary")).as("canon_md5"))
      },
      Some("""WITH canon AS (
             |  SELECT doc_id,
             |    array_to_string(list_transform(
             |      regexp_extract_all(coalesce(text, ''), '\w+|[^\w\s]'),
             |      t -> CASE WHEN regexp_matches(t, '^[A-Za-z]+$')
             |        THEN lower(t) ELSE t END), ' ') AS c
             |  FROM documents)
             |SELECT doc_id, CAST(length(c) AS BIGINT) AS n_chars,
             |  md5(c) AS canon_md5
             |FROM canon""".stripMargin)),

    // BYTE-FALLBACK BPE (q171's id surface made total): non-ASCII
    // pre-tokens decompose to their UTF-8 bytes through the 256
    // RESERVED byte-token vocab slots (ids 1–256; learned subwords rank
    // from 257), so EVERY string encodes to in-vocabulary ids and the
    // vocab stays bounded at 256 + learned instead of one entry per
    // distinct glyph. The corpus plants non-ASCII docs (2-byte é/ü/ï,
    // 3-byte CJK, 4-byte emoji — a UTF-16 surrogate pair, one code
    // point); the model fits on the BASE ASCII corpus, so the planted
    // glyphs are exactly the out-of-vocab case byte fallback exists
    // for. Gate: per-doc token count, byte-token count, position-
    // weighted id sum (one wrong byte or id breaks it), AND the q163
    // round-trip md5 over the SAME extended corpus — decode must
    // reassemble the bytes. Oracle replays the byte split as pure
    // unicode(c) arithmetic (2/3/4-byte UTF-8 unrolled) plus the
    // reserved-slot vocab.
    Q("q179_byte_fallback_bpe",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sq = spark; import sq.implicits._
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        val planted = d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 60000L).as("doc_id"),
            concat(substring(col("text"), 1, 40),
              lit(" café naïve über résumé 東京 emoji 🚀 done")).as("text"))
        val corpus = d.select(col("doc_id"), col("text"))
          .unionByName(planted)
        val toks = graft.operators.OperatorCaches.track(
          corpus.select(col("doc_id"),
            posexplode(Bpe.encodeCol(col("text"), model))
              .as(Seq("pos", "tok"))).persist())
        val isByte = col("tok").rlike("^<0x[0-9A-F]{2}>$")
        val ranked = toks.filter(!isByte)
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .withColumn("id", row_number()
            .over(Window.orderBy(col("c").desc, col("tok"))) + 256)
          .select(col("tok"), col("id"))
        val byteVocab = Bpe.ByteTokens.zipWithIndex
          .map { case (t, b) => (t, b + 1) }.toDF("tok", "id")
        val ids = toks.join(broadcast(byteVocab.unionByName(ranked)), Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"),
            sum(when(isByte, 1L).otherwise(0L)).as("n_byte"),
            sum(col("id").cast("long") * (col("pos") + 1)).as("id_wsum"))
        val rt = corpus.select(col("doc_id"),
          md5(Bpe.decodeCol(Bpe.encodeMarkedCol(col("text"), model))
            .cast("binary")).as("canon_md5"))
        ids.join(rt, Seq("doc_id"))
      },
      Some(s"""WITH $fitChain,
             |xcorpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 60000,
             |    substr(text, 1, 40) || ' café naïve über résumé 東京 emoji 🚀 done'
             |  FROM documents WHERE doc_id % 5 = 0),
             |${encodeChainOver("xcorpus", byteFallback = true)},
             |btoks AS (SELECT doc_id, bt[i] AS tok, i
             |  FROM per, unnest(generate_series(1, len(bt))) AS s(i)),
             |nb AS (SELECT tok, count(*) AS c FROM btoks
             |  WHERE NOT regexp_matches(tok, '^<0x[0-9A-F]{2}>$$') GROUP BY tok),
             |rv AS (SELECT tok,
             |  ROW_NUMBER() OVER (ORDER BY c DESC, tok) + 256 AS id FROM nb),
             |bv AS (SELECT printf('<0x%02X>', b) AS tok, b + 1 AS id
             |  FROM (SELECT unnest(generate_series(0, 255)) AS b)),
             |voc AS (SELECT tok, id FROM bv UNION ALL SELECT tok, id FROM rv),
             |idt AS (SELECT b.doc_id, b.i, b.tok, v.id
             |  FROM btoks b JOIN voc v USING (tok)),
             |idsum AS (SELECT doc_id, count(*) AS n_tok,
             |  sum(CASE WHEN regexp_matches(tok, '^<0x[0-9A-F]{2}>$$')
             |    THEN 1 ELSE 0 END) AS n_byte,
             |  sum(id * i) AS id_wsum FROM idt GROUP BY doc_id),
             |canon AS (SELECT doc_id, array_to_string(list_transform(
             |    regexp_extract_all(coalesce(text, ''), '$Lex'),
             |    t -> CASE WHEN regexp_matches(t, '$Alpha')
             |      THEN lower(t) ELSE t END), ' ') AS c
             |  FROM xcorpus)
             |SELECT i.doc_id, CAST(i.n_tok AS BIGINT) AS n_tok,
             |  CAST(i.n_byte AS BIGINT) AS n_byte,
             |  CAST(i.id_wsum AS BIGINT) AS id_wsum,
             |  md5(c.c) AS canon_md5
             |FROM idsum i JOIN canon c USING (doc_id)""".stripMargin)),

    // BIGRAM LM surprisal over the BPE token stream (q149's unigram
    // upgraded to the KenLM shape the verdicts asked for; tokens ≅ q171
    // ids — the bijection makes string-keyed and id-keyed scoring
    // identical). Add-one smoothing: P(v|u) = (C(u,v)+1)/(C(u)+V) with
    // C(u) the left-context count and V the distinct-token vocab;
    // surprisal −ln P in integer micro-nats (q94's discipline); the
    // outlier verdict (doc mean > 1.25 × corpus mean) decided by exact
    // integer cross-multiplication, no float compare. The oracle
    // replays fit → encode → per-doc bigrams (lead window) → smoothed
    // probabilities → micro-nat rounding → the cross-multiplied
    // verdict, end to end.
    Q("q180_bigram_surprisal",
      (spark, dir) => {
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Curation.bigramSurprisalTokens(d, "doc_id",
            Bpe.encodeCol(col("text"), model))
          .select(col("id").as("doc_id"), col("n_bigrams"),
            col("mean_surprisal"), col("is_outlier"))
      },
      Some(s"""WITH $fitChain,
             |$encodeChain,
             |bgtoks AS (SELECT doc_id, bt[i] AS tok, i
             |  FROM per, unnest(generate_series(1, len(bt))) AS s(i)),
             |bgbi AS (SELECT doc_id, tok,
             |    lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
             |  FROM bgtoks),
             |bgd AS (SELECT doc_id, tok, nxt, count(*) AS m FROM bgbi
             |  WHERE nxt IS NOT NULL GROUP BY 1, 2, 3),
             |bgc AS (SELECT tok, nxt, CAST(sum(m) AS BIGINT) AS c
             |  FROM bgd GROUP BY 1, 2),
             |bgx AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cu FROM bgc GROUP BY 1),
             |bgv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM bgtoks),
             |bgp AS (SELECT b.tok, b.nxt, b.c,
             |    CAST(round(-ln((CAST(b.c AS DOUBLE) + 1)
             |      / CAST(x.cu + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS s
             |  FROM bgc b JOIN bgx x USING (tok), bgv v),
             |bgg AS (SELECT CAST(sum(s * c) AS BIGINT) AS gt,
             |    CAST(sum(c) AS BIGINT) AS gn FROM bgp),
             |bgs AS (SELECT d.doc_id, CAST(sum(d.m) AS BIGINT) AS n_bigrams,
             |    CAST(sum(d.m * p.s) AS BIGINT) AS s_total
             |  FROM bgd d JOIN bgp p ON p.tok = d.tok AND p.nxt = d.nxt
             |  GROUP BY 1)
             |SELECT doc_id, n_bigrams,
             |  round(CAST(s_total AS DOUBLE) / n_bigrams / 1000000, 4) AS mean_surprisal,
             |  CAST(CASE WHEN 4 * s_total * g.gn > 5 * g.gt * n_bigrams
             |    THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
             |FROM bgs, bgg g""".stripMargin)),

    // RAW CRAWL → TRAINING SHARDS capstone: the full corpus-rewrite
    // chain a real pipeline runs, COMPOSED end-to-end with every
    // intermediate oracle-replayed — keep-one substring span removal
    // (q182, on a crawl with planted full- and half-copies + injected
    // PII) → Gopher quality gate (q177's rules, now judging the
    // CLEANED text: gutted copies fail word-count and drop) → PII
    // redaction (q176's ladder) → exact-dedup keep-one (q181's rule,
    // on the redacted bytes) → BPE encode (the q143 model, fit on the
    // raw corpus as tokenizers are) → vocabulary ids (q171) → packed
    // 512-token sequences in 8 shards (q173). The gate hashes q173's
    // per-(shard, seq) landing stats over the SURVIVING cleaned docs:
    // where every doc starts depends on every cleaned token count
    // before it in its shard, so ONE mis-excised span, one flipped
    // quality verdict, one missed redaction, one wrong keeper, or one
    // mis-tokenized doc moves the whole shard tail. The file a trainer
    // reads is thus derivable from raw crawl with zero unverified
    // stages.
    Q("q187_crawl_to_shards",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val model = fitModel(spark, dir)
        val d = Tables.load(spark, dir, "documents")
        val inj = d.select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id") % 100,
          lit("@ex.org ref 987654"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0")).as("text"))
        val corpus = inj
          .unionByName(inj.filter(col("doc_id") % 4 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
          .unionByName(inj.filter(col("doc_id") % 4 === 1)
            .select((col("doc_id") + 20000L).as("doc_id"),
              substring(col("text"), lit(1), (length(col("text")) / 2)
                .cast("int")).as("text")))
        val cleaned = graft.operators.Dedup
          .removeDuplicatedSpansKeepOne(corpus, "doc_id", "text")
          .select(col("id").as("doc_id"), col("clean_text").as("text"))
        val kept = cleaned.filter(TextQueries.gopherRules(col("text")).keep)
        val red = kept.select(col("doc_id"),
          graft.functions.TextFunctions.redactPiiBattery(col("text")).as("text"))
        val keepers = red.groupBy(sha2(col("text"), 256).as("_sha"))
          .agg(min(col("doc_id")).as("doc_id"))
        val fin = graft.operators.OperatorCaches.track(
          red.join(keepers.select(col("doc_id")), Seq("doc_id")).persist())
        val toks = graft.operators.OperatorCaches.track(
          fin.select(col("doc_id"),
            posexplode(Bpe.encodeCol(col("text"), model))
              .as(Seq("pos", "tok"))).persist())
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .withColumn("id",
            row_number().over(Window.orderBy(col("c").desc, col("tok"))))
          .select(col("tok"), col("id"))
        val offs = graft.operators.Curation.packSequences(fin, "doc_id",
            Bpe.encodeCol(col("text"), model), budgetTokens = 512, shards = 8)
          .select(col("doc_id"), col("shard"), col("start_off"))
        toks.join(broadcast(vocab), Seq("tok"))
          .join(offs, Seq("doc_id"))
          .withColumn("idx", col("start_off") + col("pos"))
          .select(col("shard"), expr("idx DIV 512").as("seq_id"),
            col("doc_id"), col("id"), (col("idx") % 512).as("off"))
          .groupBy(col("shard"), col("seq_id"))
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("id").cast("long") * (col("off") + 1)).as("id_wsum"),
            max(col("off")).cast("long").as("last_off"))
      },
      Some(q187Oracle)),

    // UNIGRAM-LM TOKENIZER (UnigramLm): SentencePiece's other family
    // next to BPE — a piece inventory with unigram log-prob costs
    // segments words by minimum-cost Viterbi, refined by hard-EM
    // (segment → recount → prune zero-count pieces → re-score, 2
    // fixed iterations, alphabet floored so segmentation stays
    // total). Same hash-capped sample and word basis as the BPE fit.
    // The gate hashes the segmentation of every fitted-vocab word
    // under the final model (cost in integer micro-nats, piece count,
    // pieces verbatim). The oracle replays the WHOLE fit relationally
    // (no DuckDB lambdas — they miscompiled the fold): seed counts,
    // per-iteration scores, and THREE full Viterbi passes as unrolled
    // per-position DP stages that carry the winning segmentation
    // string forward (ties broken (cost, start) — exactly the Scala
    // scan order), so no backtrace stage is needed.
    Q("q189_unigram_lm",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
        val (model, vocab) =
          graft.functions.UnigramLm.fit(d, "doc_id", "text")
        vocab.toDF("word", "freq")
          .select(col("word"), col("freq"),
            graft.functions.UnigramLm.segmentCol(col("word"), model).as("_s"))
          .select(col("word"), col("freq"),
            col("_s")("_1").as("cost_micro"),
            col("_s")("_2").cast("long").as("n_pieces"),
            col("_s")("_3").as("pieces"))
      },
      Some(q189Oracle)),

    // CROSS-BASIS FERTILITY SCORECARD (r16 missing #4's comparison
    // half): ALL FOUR production tokenizer bases — unigram-LM (q189's
    // fit), lexer-basis BPE (q142's fit), GPT-2-basis BPE (q256's
    // fit, measured on the IN-CONTEXT spaced form ' '||word, where
    // the leading space is part of the token), and WordPiece (q313's
    // fit, greedy longest-match) — segment the SAME fitted
    // vocabulary, weighted by fit frequency. Fertility (pieces per
    // word occurrence, micro-exact) is THE number a
    // pretraining-budget decision reads: more pieces = more sequence
    // positions for the same text. Oracle composes the four fit
    // replays (u-chain, fitChain+encode over the words-as-docs, gpt2
    // chains over the spaced forms, the WordPiece merge+greedy
    // chains over the shared vocab) — every np is earned by a full
    // relational replay of its fit.
    Q("q309_tokenizer_basis_fertility",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val (uModel, vocab) =
          graft.functions.UnigramLm.fit(d, "doc_id", "text")
        val vw = vocab.toDF("word", "freq")
        val lexModel = fitModel(spark, dir)
        val gModel = Bpe.fitGpt2(d, "doc_id", "text",
          SampleDocs, MaxWords, NumMerges)
        val (wModel, _) = graft.functions.Wordpiece.fit(d, "doc_id",
          "text", SampleDocs, MaxWords, NumMerges)
        val per = graft.operators.OperatorCaches.track(vw.select(
          col("word"), col("freq"),
          graft.functions.UnigramLm.segmentCol(col("word"), uModel)("_2")
            .cast("long").as("np_u"),
          size(Bpe.encodeCol(col("word"), lexModel)).cast("long").as("np_l"),
          size(Bpe.encodeGpt2Col(concat(lit(" "), col("word")), gModel))
            .cast("long").as("np_g"),
          size(graft.functions.Wordpiece.encodeWordCol(col("word"), wModel))
            .cast("long").as("np_w")).persist())
        def leg(basis: String, c: String) = per
          .agg(count(lit(1)).as("n_words"),
            sum(col("freq")).as("total_freq"),
            sum(col("freq") * col(c)).as("weighted_pieces"))
          .select(lit(basis).as("basis"), col("n_words"),
            col("total_freq"), col("weighted_pieces"),
            expr("weighted_pieces * 1000000 DIV total_freq")
              .as("fertility_micro"))
        leg("bpe_gpt2", "np_g")
          .unionByName(leg("bpe_lexer", "np_l"))
          .unionByName(leg("unigram", "np_u"))
          .unionByName(leg("wordpiece", "np_w"))
      },
      Some {
        def legSql(basis: String, c: String): String =
          s"""SELECT '$basis' AS basis,
             |  CAST(count(*) AS BIGINT) AS n_words,
             |  CAST(sum(f) AS BIGINT) AS total_freq,
             |  CAST(sum(f * $c) AS BIGINT) AS weighted_pieces,
             |  CAST(sum(f * $c) * 1000000 // sum(f) AS BIGINT)
             |    AS fertility_micro
             |FROM stats""".stripMargin
        s"""WITH $unigramFitCtes,
           |$fitChain,
           |uwdocs AS (SELECT ROW_NUMBER() OVER (ORDER BY w) AS doc_id,
           |  w AS text, w, f FROM uwords),
           |${encodeChainOver("uwdocs", byteFallback = false)},
           |${gpt2PreTokCtes("gs", "samp")},
           |$gpt2FitCtes,
           |guwdocs AS (SELECT doc_id, ' ' || text AS text FROM uwdocs),
           |${gpt2PreTokCtes("gd", "guwdocs")},
           |$gpt2EncodeCtes,
           |${wordpieceChainCtes(greedyOver = "uwords",
              greedyWordCol = "w")},
           |stats AS (
           |  SELECT u.w, u.f,
           |    sg.np AS np_u,
           |    len(p.bt) AS np_l,
           |    len(gp.bt) AS np_g,
           |    ws.np AS np_w
           |  FROM uwords u
           |  JOIN usegf sg ON sg.w = u.w
           |  JOIN uwdocs ud ON ud.w = u.w
           |  JOIN per p ON p.doc_id = ud.doc_id
           |  JOIN gper gp ON gp.doc_id = ud.doc_id
           |  JOIN wseg ws ON ws.w = u.w)
           |${legSql("bpe_gpt2", "np_g")}
           |UNION ALL ${legSql("bpe_lexer", "np_l")}
           |UNION ALL ${legSql("unigram", "np_u")}
           |UNION ALL ${legSql("wordpiece", "np_w")}""".stripMargin
      }),

    // WORDPIECE TOKENIZER (Wordpiece.fit / encodeWord — the BERT
    // basis, closing the third production tokenizer family next to
    // BPE and the unigram LM): likelihood-ratio greedy merges
    // (score = c(l,r)/(c(l)·c(r)), decided by an EXACT floor(c·2^80 /
    // (c_l·c_r)) key — no float in either engine), '##' continuation
    // convention, and greedy longest-match-first ENCODING off the
    // final vocabulary (not a merge replay — WordPiece's defining
    // difference from BPE). The gate hashes the segmentation of every
    // fitted-vocab word (≤ 24 chars): pieces verbatim, so one wrong
    // merge choice or one wrong greedy step moves rows. Oracle = the
    // shared sample head + 48 unrolled merge steps (scored argmax +
    // the gaps-and-islands merge pass with '##'-stripping concat) +
    // a 24-stage greedy longest-match unroll over the final vocab.
    Q("q313_wordpiece_tokenizer",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val (m, vocab) = graft.functions.Wordpiece.fit(d, "doc_id",
          "text", SampleDocs, MaxWords, NumMerges)
        vocab.toDF("word", "freq").filter(length(col("word")) <= 24)
          .select(col("word"), col("freq"),
            graft.functions.Wordpiece.encodeWordCol(col("word"), m)
              .as("_p"))
          .select(col("word"), col("freq"),
            size(col("_p")).cast("long").as("n_pieces"),
            array_join(col("_p"), "|").as("pieces"))
      },
      Some(q313Oracle)),

    // TOKENIZER REFIT / DRIFT CYCLE (r17 missing #5 — the q308 fit_id
    // discipline applied to tokenizer models): the OLD model (v1, fit
    // on even docs) is probed against NEW data (odd docs with q236's
    // heavy jargon tail) — fertility on the new sample blows the
    // 1.1× drift bar (exact integer cross-multiplication, never a
    // float compare), the cycle REFITS on current data under a new
    // content-addressed vocab_id, fertility on the same probe set
    // improves, the ENCODED ARTIFACT (parquet rows carrying vocab_id)
    // re-reads byte-equal to a fresh encode, and serving it against
    // the OLD vocab id raises loudly (the guard's positive test).
    // Fertility legs are EARNED on both sides (oracle replays both
    // 48-step fits + both 48-pass probe encodes); only the storage
    // round-trip (0) and the guard verdict (1) are oracle-pinned
    // constants the Spark side must earn at run time.
    Q("q322_tokenizer_refit_cycle",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val oldC = d.filter(col("doc_id") % 2 === 0)
        val newC = d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 1,
              concat(col("text"), lit(q236Jargon))).otherwise(col("text"))
              .as("text"))
        val current = oldC.unionByName(newC)
        val mo = Bpe.fit(oldC, "doc_id", "text",
          SampleDocs, MaxWords, NumMerges)
        val mu = Bpe.fit(current, "doc_id", "text",
          SampleDocs, MaxWords, NumMerges)
        val id1 = Bpe.vocabId(mo)
        val id2 = Bpe.vocabId(mu)
        val ovw = Bpe.sampleVocab(oldC, "doc_id", "text",
          SampleDocs, MaxWords).toDF("w", "f")
        val nvw = Bpe.sampleVocab(newC, "doc_id", "text",
          SampleDocs, MaxWords).toDF("w", "f")
        def fert(vw: org.apache.spark.sql.DataFrame,
            m: Bpe.Model): (Long, Long) = {
          // coalesce: an empty/all-filtered sample sums to NULL — a
          // degenerate corpus should read fertility 0, not NPE
          val r = vw.agg(
            coalesce(sum(col("f") * size(Bpe.encodeCol(col("w"), m))),
              lit(0L)).cast("long"),
            coalesce(sum(col("f")), lit(0L)).cast("long")).first()
          (r.getLong(0), r.getLong(1))
        }
        val (wpO, tfO) = fert(ovw, mo)
        val (wpN, tfN) = fert(nvw, mo)
        val (wpZ, _) = fert(nvw, mu)
        // versioned encoded artifact: rows carry the vocab_id. The dir
        // key carries BOTH the vocab id and a content fingerprint of the
        // encoded corpus — the fit samples only 256 docs, so regenerated
        // testdata can produce the SAME vocab id over different text;
        // without the fingerprint a stale artifact would be reused and
        // the reencode-parity leg would false-fail (ADVICE r18).
        val art = s"/tmp/graft-tokenc-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(newC, "doc_id", s"$dir/documents_tokenc")}" +
          s"-${java.lang.Long.toHexString(id2)}"
        if (!new java.io.File(s"$art/_SUCCESS").exists())
          newC.select(col("doc_id"),
              Bpe.encodeCol(col("text"), mu).as("toks"),
              lit(id2).as("vocab_id"))
            .write.mode("overwrite").parquet(art)
        val back = spark.read.parquet(art)
        val fresh = newC.select(col("doc_id"),
          Bpe.encodeCol(col("text"), mu).as("toks2"))
        val mismatch = Bpe.requireVocab(back, id2)
          .select(col("doc_id"), col("toks"))
          .join(fresh, Seq("doc_id"), "full_outer")
          .filter(col("toks").isNull || col("toks2").isNull ||
            col("toks") =!= col("toks2"))
          .count()
        // the guard's positive test: serving the v2 artifact against
        // the OLD vocab id must refuse loudly
        val guardFired =
          try { Bpe.requireVocab(back, id1).count(); 0L }
          catch {
            case ex: Throwable =>
              val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
                .takeWhile(_ != null).take(10)
                .flatMap(t => Option(t.getMessage)).mkString(" ")
              if (msgs.contains("requireVocab")) 1L else throw ex
          }
        def micro(wp: Long, tf: Long): Long =
          if (tf == 0L) 0L else wp * 1000000L / tf
        Seq(
          ("fert_v1_oldsample_micro", micro(wpO, tfO)),
          ("fert_v1_newsample_micro", micro(wpN, tfN)),
          // drift bar 1.1×: 10·wpN·tfO > 11·wpO·tfN (exact integers)
          ("drift_exceeds_bar",
            if (10L * wpN * tfO > 11L * wpO * tfN) 1L else 0L),
          ("vocab_id_changed", if (id2 != id1) 1L else 0L),
          ("fert_v2_newsample_micro", micro(wpZ, tfN)),
          ("refit_improves", if (wpZ < wpN) 1L else 0L),
          ("artifact_reencode_mismatch", mismatch),
          ("old_vocab_refused", guardFired))
          .toDF("check", "value")
      },
      Some {
        val oldSql = "SELECT doc_id, text FROM documents " +
          "WHERE text IS NOT NULL AND doc_id % 2 = 0"
        val newSql = "SELECT doc_id, CASE WHEN doc_id % 10 = 1 THEN " +
          "text || '" + q236Jargon + "' ELSE text END AS text " +
          "FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1"
        val oUnion = (1 to NumMerges)
          .map(k => s"SELECT CAST($k AS INTEGER) AS rank, l, r FROM ob$k")
          .mkString("\nUNION ALL ")
        val uUnion = (1 to NumMerges)
          .map(k => s"SELECT CAST($k AS INTEGER) AS rank, l, r FROM ub$k")
          .mkString("\nUNION ALL ")
        s"""WITH ${fitChainOver(oldSql, "o")},
           |${fitHeadOver(newSql, "n")},
           |${applyAllOver("nvocab", "o", "ne")},
           |${fitChainOver(s"$oldSql UNION ALL $newSql", "u")},
           |${applyAllOver("nvocab", "u", "ze")},
           |fo AS (SELECT CAST(sum(f * len(s)) AS BIGINT) AS wp,
           |  CAST(sum(f) AS BIGINT) AS tf FROM ov$NumMerges),
           |fn AS (SELECT CAST(sum(f * len(s)) AS BIGINT) AS wp,
           |  CAST(sum(f) AS BIGINT) AS tf FROM ne$NumMerges),
           |fz AS (SELECT CAST(sum(f * len(s)) AS BIGINT) AS wp,
           |  CAST(sum(f) AS BIGINT) AS tf FROM ze$NumMerges),
           |omg AS ($oUnion),
           |umg AS ($uUnion),
           |idchg AS (SELECT CAST(CASE WHEN
           |    (SELECT count(*) FROM omg o JOIN umg u
           |      ON u.rank = o.rank AND u.l = o.l AND u.r = o.r)
           |    = (SELECT count(*) FROM omg)
           |    AND (SELECT count(*) FROM omg) = (SELECT count(*) FROM umg)
           |  THEN 0 ELSE 1 END AS BIGINT) AS v)
           |$refitScorecard""".stripMargin
      }),

    // WORDPIECE REFIT / DRIFT CYCLE (r18 verdict missing #4 — q322's
    // drift-bar → refit → vocab_id → parity → loud-refusal loop on the
    // WORDPIECE family, the one whose fertility the q309 scorecard
    // shows drifting hardest): the OLD model (fit on even docs) is
    // probed against the NEW sample (odd docs with q236's jargon
    // tail); fertility — pieces per word weighted by sample frequency,
    // BERT's [UNK] counting as one piece — blows the exact-integer
    // 1.1× bar; the cycle REFITS under a new content-addressed
    // vocab_id (Wordpiece.vocabId — folds the FINAL vocabulary, the
    // only thing WordPiece encoding consults); the encoded artifact
    // re-reads equal to a fresh encode; serving it against the old id
    // refuses loudly (Bpe.requireVocab — the guard is family-agnostic).
    // Fertility legs are EARNED on both sides: the oracle replays BOTH
    // 48-step scored-argmax fits and THREE 24-stage greedy unrolls
    // (old model × {old, new} samples, refit × new sample), reading a
    // greedy-dead word back as np = 1 via the left join (whole-word
    // [UNK]). vocab_id_changed replays as final-vocabulary set
    // inequality — the id folds exactly that set.
    Q("q329_wordpiece_refit_cycle",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val wp = graft.functions.Wordpiece
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val oldC = d.filter(col("doc_id") % 2 === 0)
        val newC = d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 1,
              concat(col("text"), lit(q236Jargon))).otherwise(col("text"))
              .as("text"))
        // refit on the DRIFTED stream itself (newC), not old ∪ new:
        // WordPiece's 48 likelihood-ratio merges are a scarce budget,
        // and splitting them across both distributions leaves the new
        // sample's fertility WORSE than v1 (measured: 3394360 vs
        // 3362263 micro at sf0.01) — the union refit is the wrong
        // response to drift for this family; fitting the current
        // distribution is the cycle the bar exists to trigger
        val (mo, _) = wp.fit(oldC, "doc_id", "text",
          SampleDocs, MaxWords, NumMerges)
        val (mu, _) = wp.fit(newC, "doc_id", "text",
          SampleDocs, MaxWords, NumMerges)
        val id1 = wp.vocabId(mo)
        val id2 = wp.vocabId(mu)
        // the 24-char cap mirrors the oracle's greedy unroll bound
        // (q313's discipline); the documents vocabulary is far shorter
        val ovw = Bpe.sampleVocab(oldC, "doc_id", "text",
          SampleDocs, MaxWords).toDF("w", "f")
          .filter(length(col("w")) <= 24)
        val nvw = Bpe.sampleVocab(newC, "doc_id", "text",
          SampleDocs, MaxWords).toDF("w", "f")
          .filter(length(col("w")) <= 24)
        def fert(vw: org.apache.spark.sql.DataFrame,
            m: wp.Model): (Long, Long) = {
          val r = vw.agg(
            coalesce(sum(col("f") * size(wp.encodeWordCol(col("w"), m))),
              lit(0L)).cast("long"),
            coalesce(sum(col("f")), lit(0L)).cast("long")).first()
          (r.getLong(0), r.getLong(1))
        }
        val (wpO, tfO) = fert(ovw, mo)
        val (wpN, tfN) = fert(nvw, mo)
        val (wpZ, _) = fert(nvw, mu)
        // versioned encoded artifact: the NEW sample's word table under
        // the refit model, rows carrying the vocab_id; dir keyed on
        // content fingerprint + id (the r18-advice discipline)
        val art = s"/tmp/graft-wpenc-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(nvw, "f", s"$dir/documents_wpenc")}" +
          s"-${java.lang.Long.toHexString(id2)}"
        if (!new java.io.File(s"$art/_SUCCESS").exists())
          nvw.select(col("w"),
              wp.encodeWordCol(col("w"), mu).as("pieces"),
              lit(id2).as("vocab_id"))
            .write.mode("overwrite").parquet(art)
        val back = spark.read.parquet(art)
        val fresh = nvw.select(col("w"),
          wp.encodeWordCol(col("w"), mu).as("pieces2"))
        val mismatch = Bpe.requireVocab(back, id2)
          .select(col("w"), col("pieces"))
          .join(fresh, Seq("w"), "full_outer")
          .filter(col("pieces").isNull || col("pieces2").isNull ||
            col("pieces") =!= col("pieces2"))
          .count()
        val guardFired =
          try { Bpe.requireVocab(back, id1).count(); 0L }
          catch {
            case ex: Throwable =>
              val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
                .takeWhile(_ != null).take(10)
                .flatMap(t => Option(t.getMessage)).mkString(" ")
              if (msgs.contains("requireVocab")) 1L else throw ex
          }
        def micro(wpp: Long, tf: Long): Long =
          if (tf == 0L) 0L else wpp * 1000000L / tf
        Seq(
          ("fert_v1_oldsample_micro", micro(wpO, tfO)),
          ("fert_v1_newsample_micro", micro(wpN, tfN)),
          ("drift_exceeds_bar",
            if (10L * wpN * tfO > 11L * wpO * tfN) 1L else 0L),
          ("vocab_id_changed", if (id2 != id1) 1L else 0L),
          ("fert_v2_newsample_micro", micro(wpZ, tfN)),
          ("refit_improves", if (wpZ < wpN) 1L else 0L),
          ("artifact_reencode_mismatch", mismatch),
          ("old_vocab_refused", guardFired))
          .toDF("check", "value")
      },
      Some {
        val oldSql = "SELECT doc_id, text FROM documents " +
          "WHERE text IS NOT NULL AND doc_id % 2 = 0"
        val newSql = "SELECT doc_id, CASE WHEN doc_id % 10 = 1 THEN " +
          "text || '" + q236Jargon + "' ELSE text END AS text " +
          "FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1"
        def fertCte(name: String, vocabCte: String, segPfx: String) =
          s"""$name AS (SELECT
             |  CAST(sum(v.f * coalesce(s.np, 1)) AS BIGINT) AS wp,
             |  CAST(sum(v.f) AS BIGINT) AS tf
             |  FROM (SELECT w, f FROM $vocabCte WHERE length(w) <= 24) v
             |  LEFT JOIN ${segPfx}wseg s ON s.w = v.w)""".stripMargin
        s"""WITH ${fitHeadOver(oldSql, "wo")},
           |${fitHeadOver(newSql, "wn")},
           |${wordpieceFitOver("wovocab", "a")},
           |${wordpieceFitOver("wnvocab", "b")},
           |${wordpieceGreedyOver("awvoc", "wovocab", "w", "p")},
           |${wordpieceGreedyOver("awvoc", "wnvocab", "w", "q")},
           |${wordpieceGreedyOver("bwvoc", "wnvocab", "w", "r")},
           |${fertCte("fo", "wovocab", "p")},
           |${fertCte("fn", "wnvocab", "q")},
           |${fertCte("fz", "wnvocab", "r")},
           |idchg AS (SELECT CAST(CASE WHEN
           |    (SELECT count(*) FROM awvoc a JOIN bwvoc b ON b.sym = a.sym)
           |    = (SELECT count(*) FROM awvoc)
           |    AND (SELECT count(*) FROM awvoc) = (SELECT count(*) FROM bwvoc)
           |  THEN 0 ELSE 1 END AS BIGINT) AS v)
           |$refitScorecard""".stripMargin
      }),

    // UNIGRAM-LM REFIT / DRIFT CYCLE — the FOURTH tokenizer family
    // through q322's loop (BPE q322, WordPiece q329; the unigram LM
    // closes the refit-cycle matrix over every production family the
    // engine fits): the old model (hard-EM fit on even docs) probed
    // against the drifted odd-doc sample blows the exact-integer 1.1×
    // fertility bar (a word the Viterbi DP cannot segment — engine
    // null — counts as ONE piece on both sides, via coalesce here and
    // a LEFT JOIN in the replay); the cycle refits on the drifted
    // stream under a new content-addressed vocab_id (UnigramLm.vocabId
    // folds the (piece, micro-nat cost) score table — the only thing
    // segmentation consults); the stored segmentation artifact
    // re-reads equal to a fresh segment; serving against the old id
    // refuses loudly. Oracle replays BOTH hard-EM fits (seed counts →
    // 2 EM rounds of score/Viterbi/count) + the one extra cross
    // segmentation (old scores × new words); own-sample fertilities
    // ride each fit's final segmentation for free.
    Q("q332_unigram_refit_cycle",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val ul = graft.functions.UnigramLm
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val oldC = d.filter(col("doc_id") % 2 === 0)
        val newC = d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 1,
              concat(col("text"), lit(q236Jargon))).otherwise(col("text"))
              .as("text"))
        val (mo, ovwSeq) = ul.fit(oldC, "doc_id", "text")
        val (mu, nvwSeq) = ul.fit(newC, "doc_id", "text")
        val id1 = ul.vocabId(mo)
        val id2 = ul.vocabId(mu)
        val ovw = ovwSeq.toDF("w", "f")
        val nvw = nvwSeq.toDF("w", "f")
        def fert(vw: org.apache.spark.sql.DataFrame,
            m: ul.Model): (Long, Long) = {
          val np = coalesce(ul.segmentCol(col("w"), m)("_2").cast("long"),
            lit(1L))
          val r = vw.agg(
            coalesce(sum(col("f") * np), lit(0L)).cast("long"),
            coalesce(sum(col("f")), lit(0L)).cast("long")).first()
          (r.getLong(0), r.getLong(1))
        }
        val (wpO, tfO) = fert(ovw, mo)
        val (wpN, tfN) = fert(nvw, mo)
        val (wpZ, _) = fert(nvw, mu)
        val art = s"/tmp/graft-ulenc-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(nvw, "f", s"$dir/documents_ulenc")}" +
          s"-${java.lang.Long.toHexString(id2)}"
        if (!new java.io.File(s"$art/_SUCCESS").exists())
          nvw.select(col("w"),
              ul.segmentCol(col("w"), mu)("_3").as("seg"),
              lit(id2).as("vocab_id"))
            .write.mode("overwrite").parquet(art)
        val back = spark.read.parquet(art)
        val fresh = nvw.select(col("w"),
          ul.segmentCol(col("w"), mu)("_3").as("seg2"))
        val mismatch = Bpe.requireVocab(back, id2)
          .select(col("w"), col("seg"))
          .join(fresh, Seq("w"), "full_outer")
          .filter(!(col("seg") <=> col("seg2")))
          .count()
        val guardFired =
          try { Bpe.requireVocab(back, id1).count(); 0L }
          catch {
            case ex: Throwable =>
              val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
                .takeWhile(_ != null).take(10)
                .flatMap(t => Option(t.getMessage)).mkString(" ")
              if (msgs.contains("requireVocab")) 1L else throw ex
          }
        def micro(wpp: Long, tf: Long): Long =
          if (tf == 0L) 0L else wpp * 1000000L / tf
        Seq(
          ("fert_v1_oldsample_micro", micro(wpO, tfO)),
          ("fert_v1_newsample_micro", micro(wpN, tfN)),
          ("drift_exceeds_bar",
            if (10L * wpN * tfO > 11L * wpO * tfN) 1L else 0L),
          ("vocab_id_changed", if (id2 != id1) 1L else 0L),
          ("fert_v2_newsample_micro", micro(wpZ, tfN)),
          ("refit_improves", if (wpZ < wpN) 1L else 0L),
          ("artifact_reencode_mismatch", mismatch),
          ("old_vocab_refused", guardFired))
          .toDF("check", "value")
      },
      Some {
        val oldSql = "SELECT doc_id, text FROM documents " +
          "WHERE text IS NOT NULL AND doc_id % 2 = 0"
        val newSql = "SELECT doc_id, CASE WHEN doc_id % 10 = 1 THEN " +
          "text || '" + q236Jargon + "' ELSE text END AS text " +
          "FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1"
        def fertCte(name: String, wordsCte: String, segCte: String) =
          s"""$name AS (SELECT
             |  CAST(sum(v.f * coalesce(s.np, 1)) AS BIGINT) AS wp,
             |  CAST(sum(v.f) AS BIGINT) AS tf
             |  FROM $wordsCte v LEFT JOIN $segCte s ON s.w = v.w)"""
            .stripMargin
        s"""WITH ${unigramFitOver(oldSql, "g")},
           |${unigramFitOver(newSql, "h")},
           |${unigramSegBlock("gus2", "pz", "huwords")},
           |${fertCte("fo", "guwords", "useggf")},
           |${fertCte("fn", "huwords", "usegpz")},
           |${fertCte("fz", "huwords", "useghf")},
           |idchg AS (SELECT CAST(CASE WHEN
           |    (SELECT count(*) FROM gus2 a JOIN hus2 b
           |      ON b.p = a.p AND b.s = a.s)
           |    = (SELECT count(*) FROM gus2)
           |    AND (SELECT count(*) FROM gus2) = (SELECT count(*) FROM hus2)
           |  THEN 0 ELSE 1 END AS BIGINT) AS v)
           |$refitScorecard""".stripMargin
      }),
  )

  /** q313 oracle (see the registration comment). */
  private def q313Oracle: String =
    s"""WITH ${fitHeadOver(
          "SELECT doc_id, text FROM documents WHERE text IS NOT NULL", "")},
       |${wordpieceChainCtes(greedyOver = "vocab", greedyWordCol = "w")}
       |SELECT w AS word, CAST(f AS BIGINT) AS freq,
       |  CAST(np AS BIGINT) AS n_pieces, seg AS pieces
       |FROM wseg""".stripMargin

  /** The WordPiece fit + greedy-encode replay WITHOUT leading WITH:
    * `wv0` (##-form symbols from the shared `vocab(w, f)` CTE) → 48
    * scored merge steps (`wpb_k` exact 2^80-scaled argmax + the
    * '##'-stripping merge pass) → `wvoc` (final vocabulary) → a
    * 24-stage greedy longest-match unroll over `greedyOver(w, f)` →
    * `wseg(w, f, np, seg)`. Shared by q313 (encode the fit vocab) and
    * q309 (encode the unigram-chain words — the same word set, so the
    * scorecard's four bases segment identical words). */
  private def wordpieceChainCtes(greedyOver: String,
      greedyWordCol: String): String =
    s"""${wordpieceFitOver("vocab", "")},
       |${wordpieceGreedyOver("wvoc", greedyOver, greedyWordCol, "")}""".stripMargin

  /** The WordPiece FIT replay alone, prefix-parameterized so two fits
    * (q329's epoch drift) coexist in one WITH chain: `{p}wv0` (##-form
    * symbols from `vocabCte(w, f)`) → 48 scored merge steps → the
    * final vocabulary `{p}wvoc(sym)`. With `p = ""` this emits EXACTLY
    * the historical text — q309/q313's oracles are byte-identical. */
  private def wordpieceFitOver(vocabCte: String, p: String): String = {
    val mergeSteps = (1 to NumMerges).map { k =>
      s"""${p}wpp$k AS (SELECT s[i] AS l, s[i+1] AS r, CAST(sum(f) AS BIGINT) AS c FROM (
         |  SELECT f, s, unnest(generate_series(1, len(s) - 1)) AS i
         |  FROM ${p}wv${k - 1} WHERE len(s) >= 2) GROUP BY 1, 2),
         |${p}wsc$k AS (SELECT sym, CAST(sum(f) AS BIGINT) AS c FROM (
         |  SELECT f, unnest(s) AS sym FROM ${p}wv${k - 1}) GROUP BY 1),
         |${p}wpb$k AS MATERIALIZED (SELECT l, r FROM (
         |  SELECT p.l, p.r, p.c,
         |    (CAST(p.c AS HUGEINT)
         |      * ${graft.functions.Wordpiece.ScaleSqlLiteral})
         |      // (CAST(cl.c AS HUGEINT) * cr.c) AS key
         |  FROM ${p}wpp$k p JOIN ${p}wsc$k cl ON cl.sym = p.l
         |    JOIN ${p}wsc$k cr ON cr.sym = p.r
         |  WHERE p.c >= 2)
         |  ORDER BY key DESC, c DESC, l, r LIMIT 1),
         |${wpApplyCtes(s"${p}wm$k", s"${p}wv${k - 1}", s"${p}wpb$k",
            s"${p}wv$k")}""".stripMargin
    }.mkString(",\n")
    val mergedSyms = (1 to NumMerges)
      .map(k => s"SELECT l || substr(r, 3) AS sym FROM ${p}wpb$k")
      .mkString("\n  UNION ALL ")
    s"""${p}wv0 AS MATERIALIZED (SELECT w, f,
       |  list_transform(generate_series(1, length(w)),
       |    i -> CASE WHEN i = 1 THEN w[i] ELSE '##' || w[i] END) AS s
       |  FROM $vocabCte),
       |$mergeSteps,
       |${p}wvoc AS MATERIALIZED (SELECT DISTINCT sym FROM (
       |  SELECT unnest(s) AS sym FROM ${p}wv0
       |  UNION ALL $mergedSyms))""".stripMargin
  }

  /** The 24-stage greedy longest-match unroll alone, parameterized on
    * the vocabulary CTE and word source (q329 encodes TWO word sets
    * under TWO fitted vocabularies): `{p}wacc0..24` → `{p}wseg(w, f,
    * np, seg)`. Words over 24 chars are excluded at `{p}wacc0`; a word
    * whose greedy walk dies (unseen char) never reaches pos =
    * length(w) and is ABSENT from `{p}wseg` — consumers replaying
    * BERT's whole-word [UNK] read it back as np = 1 via a left join
    * (the q329 fertility legs). */
  private def wordpieceGreedyOver(wvocCte: String, greedyOver: String,
      greedyWordCol: String, p: String): String = {
    val greedy = (0 until 24).map { s =>
      s"""${p}wsel$s AS (
         |  SELECT a.w, a.f, a.pos + ll.l AS npos, a.np, a.seg,
         |    (CASE WHEN a.pos = 0 THEN '' ELSE '##' END) ||
         |      substr(a.w, a.pos + 1, ll.l) AS piece, ll.l AS plen
         |  FROM ${p}wacc$s a CROSS JOIN generate_series(1, 24) ll(l)
         |  JOIN $wvocCte v ON v.sym = (CASE WHEN a.pos = 0 THEN '' ELSE '##' END) ||
         |    substr(a.w, a.pos + 1, ll.l)
         |  WHERE a.pos = $s AND a.pos + ll.l <= length(a.w)),
         |${p}wnxt$s AS (SELECT w, f, npos AS pos, np + 1 AS np,
         |    CASE WHEN np = 0 THEN piece ELSE seg || '|' || piece END AS seg
         |  FROM (SELECT *, row_number() OVER (PARTITION BY w
         |      ORDER BY plen DESC) AS rn FROM ${p}wsel$s) WHERE rn = 1),
         |${p}wacc${s + 1} AS MATERIALIZED (
         |  SELECT * FROM ${p}wacc$s UNION ALL SELECT * FROM ${p}wnxt$s)""".stripMargin
    }.mkString(",\n")
    s"""${p}wacc0 AS (SELECT $greedyWordCol AS w, f, 0 AS pos, 0 AS np,
       |  '' AS seg FROM $greedyOver
       |  WHERE length($greedyWordCol) <= 24),
       |$greedy,
       |${p}wseg AS (SELECT w, f, np, seg FROM ${p}wacc24 WHERE pos = length(w))""".stripMargin
  }

  /** [[applyCtes]] with WordPiece's merged-symbol form (`l` ++ `r`
    * without r's '##' — a continuation stays a continuation): the same
    * gaps-and-islands left-to-right non-overlapping pass. */
  private def wpApplyCtes(p: String, src: String, b: String,
      out: String): String =
    s"""${p}x AS (SELECT w, f, unnest(generate_series(1, len(s))) AS i, s FROM $src),
       |${p}y AS (SELECT w, f, i, s[i] AS sym,
       |  coalesce(s[i] = (SELECT l FROM $b) AND s[i+1] = (SELECT r FROM $b), FALSE) AS m FROM ${p}x),
       |${p}z AS (SELECT w, f, i, sym, m,
       |  i - row_number() OVER (PARTITION BY w, m ORDER BY i) AS grp FROM ${p}y),
       |${p}t AS (SELECT w, f, i, sym, m,
       |  m AND (row_number() OVER (PARTITION BY w, m, grp ORDER BY i) % 2 = 1) AS taken FROM ${p}z),
       |${p}u AS (SELECT w, f, i, sym, taken,
       |  coalesce(lag(taken) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed,
       |  lead(sym) OVER (PARTITION BY w ORDER BY i) AS nxt FROM ${p}t),
       |$out AS MATERIALIZED (SELECT w, min(f) AS f,
       |  list(CASE WHEN taken THEN sym || substr(nxt, 3) ELSE sym END ORDER BY i)
       |    FILTER (WHERE NOT consumed) AS s
       |  FROM ${p}u GROUP BY w)""".stripMargin

  /** q189 oracle (see the registration comment). Each seg block is 24
    * unrolled DP stages: `sel` extends every reachable position by a
    * piece ending at p, `nxt` keeps the (cost, start)-minimal
    * extension with its segmentation string, `acc` accumulates. */
  private def q189Oracle: String =
    s"""WITH $unigramFitCtes
       |SELECT w AS word, f AS freq, cost AS cost_micro,
       |  CAST(np AS BIGINT) AS n_pieces, seg AS pieces
       |FROM usegf""".stripMargin

  /** The q189 fit+segmentation chain WITHOUT the leading WITH or final
    * SELECT — `usegf(w, f, cost, seg, np)` is the final model's
    * segmentation of every fitted-vocab word. Shared by q189 and the
    * q309 cross-basis fertility comparison. */
  private def unigramFitCtes: String =
    unigramFitOver(
      "SELECT doc_id, text FROM documents WHERE text IS NOT NULL", "")

  /** The unigram-LM fit replay parameterized over the fit corpus and a
    * CTE-name prefix, so two fits (q332's epoch drift) coexist in one
    * WITH chain. Emits `{q}us2` (the fitted score table) and
    * `useg{q}f` (the fit words' final segmentation — the free
    * own-sample fertility basis). With `q = ""` this is EXACTLY the
    * historical unigramFitCtes text — q187/q189/q309's oracles are
    * byte-identical. */
  private def unigramFitOver(corpusSql: String, q: String): String = {
    import graft.functions.UnigramLm.{EmIters, MaxPieceLen, MaxWordLen, SeedSize}
    def scoreCte(k: Int): String =
      s"""${q}us$k AS (SELECT p, CAST(round(-ln(CAST(c AS DOUBLE)
         |  / CAST((SELECT sum(c) FROM ${q}uc$k) AS DOUBLE)) * 1000000) AS BIGINT) AS s
         |  FROM ${q}uc$k)""".stripMargin
    def countCte(k: Int, tag: String): String =
      s"""${q}usegcnt$k AS (SELECT p, CAST(sum(f) AS BIGINT) AS c
         |  FROM (SELECT f, unnest(string_split(seg, '|')) AS p FROM useg$tag)
         |  GROUP BY p),
         |${q}uc$k AS (
         |  SELECT p, c FROM ${q}usegcnt$k WHERE length(p) > 1
         |  UNION ALL
         |  SELECT ch.p, greatest(coalesce(sc.c, 0), 1)
         |  FROM ${q}uchars ch LEFT JOIN ${q}usegcnt$k sc ON sc.p = ch.p)""".stripMargin
    require(EmIters == 2, "unigramFitOver unrolls exactly EmIters = 2 blocks")
    s"""${q}ubase AS ($corpusSql),
       |${RelationalQueries5.mix64Stages(s"${q}ubase", Seq("doc_id", "text"),
            "CAST(doc_id AS HUGEINT)", prefix = s"${q}u")},
       |${q}usamp AS (SELECT doc_id, text FROM ${q}umixed ORDER BY vu LIMIT $SampleDocs),
       |${q}ustoks AS (SELECT unnest(regexp_extract_all(text, '$Lex')) AS tok FROM ${q}usamp),
       |${q}uwf AS (SELECT lower(tok) AS w, count(*) AS f FROM ${q}ustoks
       |  WHERE regexp_matches(tok, '$Alpha') GROUP BY 1),
       |${q}uvocab AS (SELECT w, f FROM ${q}uwf ORDER BY f DESC, w LIMIT $MaxWords),
       |${q}uwords AS MATERIALIZED (SELECT w, CAST(f AS BIGINT) AS f FROM ${q}uvocab
       |  WHERE length(w) <= $MaxWordLen),
       |${q}usubs AS (SELECT substr(u.w, a.a, l.l) AS p, u.f
       |  FROM ${q}uwords u, generate_series(1, $MaxWordLen) a(a),
       |    generate_series(1, $MaxPieceLen) l(l)
       |  WHERE a.a + l.l - 1 <= length(u.w)),
       |${q}ucntall AS (SELECT p, CAST(sum(f) AS BIGINT) AS c FROM ${q}usubs GROUP BY p),
       |${q}utop AS (SELECT p, c FROM ${q}ucntall ORDER BY c DESC, p LIMIT $SeedSize),
       |${q}uchars AS (SELECT p, c FROM ${q}ucntall WHERE length(p) = 1),
       |${q}uc0 AS (SELECT DISTINCT p, c FROM
       |  (SELECT * FROM ${q}utop UNION ALL SELECT * FROM ${q}uchars)),
       |${scoreCte(0)},
       |${unigramSegBlock(s"${q}us0", s"${q}a", s"${q}uwords")},
       |${countCte(1, s"${q}a")},
       |${scoreCte(1)},
       |${unigramSegBlock(s"${q}us1", s"${q}b", s"${q}uwords")},
       |${countCte(2, s"${q}b")},
       |${scoreCte(2)},
       |${unigramSegBlock(s"${q}us2", s"${q}f", s"${q}uwords")}""".stripMargin
  }

  /** One 18-stage Viterbi DP unroll: segment `wordsCte(w, f)` under
    * the score table `scoresCte(p, s)` → `useg$tag(w, f, cost, seg,
    * np)`. A word whose DP dies (out-of-alphabet char) never reaches
    * pos = length(w) and is ABSENT from useg — consumers replaying the
    * engine's null-segmentation read it back via a LEFT JOIN (q332's
    * fertility legs count it as one piece). */
  private def unigramSegBlock(scoresCte: String, tag: String,
      wordsCte: String): String = {
    import graft.functions.UnigramLm.{MaxPieceLen, MaxWordLen}
    val stages = (1 to MaxWordLen).map { p =>
      s"""sel$tag$p AS (
         |  SELECT a.w, a.f, a.cost + s.s AS c, a.pos AS j, a.seg, a.np
         |  FROM acc$tag${p - 1} a JOIN $scoresCte s
         |    ON s.p = substr(a.w, a.pos + 1, $p - a.pos)
         |  WHERE a.pos BETWEEN ${math.max(0, p - MaxPieceLen)} AND ${p - 1}
         |    AND length(a.w) >= $p),
         |nxt$tag$p AS (
         |  SELECT w, f, $p AS pos, c AS cost,
         |    CASE WHEN np = 0 THEN substr(w, j + 1, $p - j)
         |      ELSE seg || '|' || substr(w, j + 1, $p - j) END AS seg,
         |    np + 1 AS np
         |  FROM (SELECT *, row_number() OVER (PARTITION BY w ORDER BY c, j) AS rn
         |    FROM sel$tag$p) WHERE rn = 1),
         |acc$tag$p AS MATERIALIZED (
         |  SELECT * FROM acc$tag${p - 1} UNION ALL SELECT * FROM nxt$tag$p)""".stripMargin
    }
    (s"""acc${tag}0 AS (SELECT w, f, 0 AS pos, CAST(0 AS BIGINT) AS cost,
        |  '' AS seg, 0 AS np FROM $wordsCte)""".stripMargin +: stages :+
      s"""useg$tag AS (SELECT w, f, cost, seg, np
         |  FROM acc$tag$MaxWordLen WHERE pos = length(w))""".stripMargin)
      .mkString(",\n")
  }

  /** q187 oracle: the composed replay — injected corpus → q182's
    * span-removal CTEs (TextQueries.spanKeepOneCtes, 'sr' prefix) →
    * gopher keep over cleaned text → PII placeholder chain →
    * sha256 keep-one → the standard fit+encode chains (fit on RAW
    * documents, encode over the surviving cleaned text) → q173's
    * vocabulary/offset/landing arithmetic. */
  private def q187Oracle: String = {
    val em = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val idp = """\b\d{3}-\d{2}-\d{4}\b"""
    val lg = """\b\d{9,}\b"""
    val ph = """\+?\d[\d()\- ]{6,}\d"""
    s"""WITH inj AS (
       |  SELECT doc_id, text || ' contact user' || CAST(doc_id % 100 AS VARCHAR)
       |    || '@ex.org ref 987654' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS text
       |  FROM documents),
       |srcorpus AS (
       |  SELECT doc_id AS id, text FROM inj
       |  UNION ALL SELECT doc_id + 10000, text FROM inj WHERE doc_id % 4 = 0
       |  UNION ALL SELECT doc_id + 20000, substr(text, 1, length(text) // 2)
       |    FROM inj WHERE doc_id % 4 = 1),
       |${TextQueries.spanKeepOneCtes("srcorpus", "sr")},
       |srtext AS (SELECT id AS doc_id, clean_text AS text FROM srclean),
       |${TextQueries.gopherValsSql("srtext")},
       |keeps AS (SELECT doc_id FROM vals WHERE ${TextQueries.gopherKeepSql}),
       |surv AS (SELECT s.doc_id, s.text AS t FROM srtext s JOIN keeps k USING (doc_id)),
       |ch1 AS (SELECT doc_id, t, regexp_replace(t, '$em', '<EMAIL>', 'g') AS se FROM surv),
       |ch2 AS (SELECT doc_id, se, regexp_replace(se, '$idp', '<ID>', 'g') AS si FROM ch1),
       |ch3 AS (SELECT doc_id, si, regexp_replace(si, '$lg', '<LONGID>', 'g') AS sl FROM ch2),
       |red AS (SELECT doc_id, regexp_replace(sl, '$ph', '<PHONE>', 'g') AS text FROM ch3),
       |dkeep AS (SELECT min(doc_id) AS doc_id FROM red GROUP BY sha256(text)),
       |fin AS (SELECT r.doc_id, r.text FROM red r JOIN dkeep USING (doc_id)),
       |$fitChain,
       |${encodeChainOver("fin", byteFallback = false)},
       |btoks AS (SELECT doc_id, bt[i] AS tok, i
       |  FROM per, unnest(generate_series(1, len(bt))) AS s(i)),
       |tcounts AS (SELECT tok, count(*) AS c FROM btoks GROUP BY tok),
       |tvocab AS (SELECT tok,
       |  ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS id FROM tcounts),
       |nt AS (SELECT f.doc_id, f.doc_id % 8 AS shard,
       |    CAST(coalesce(len(p.bt), 0) AS BIGINT) AS n_tokens
       |  FROM fin f LEFT JOIN per p ON p.doc_id = f.doc_id),
       |offs AS (SELECT doc_id, shard,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       |  FROM nt),
       |tok AS (SELECT b.doc_id, o.shard, o.start_off + b.i - 1 AS idx, v.id
       |  FROM btoks b JOIN tvocab v USING (tok)
       |  JOIN offs o ON o.doc_id = b.doc_id)
       |SELECT shard, CAST(idx // 512 AS BIGINT) AS seq_id,
       |  count(*) AS n_tokens, count(DISTINCT doc_id) AS n_docs,
       |  CAST(sum(id * ((idx % 512) + 1)) AS BIGINT) AS id_wsum,
       |  CAST(max(idx % 512) AS BIGINT) AS last_off
       |FROM tok GROUP BY 1, 2""".stripMargin
  }
}
