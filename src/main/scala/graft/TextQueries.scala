package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, DedupGroups, TfIdf}

/** Text-analysis + dedup operators over the `documents` table
  * (LLM-data-pipeline surface; SURVEY.md §2.6).
  *
  * The LSH/SimHash queries run on a "doubled" corpus (documents ∪ shifted
  * copy) so near-duplicates exist by construction and the candidate
  * generation provably recalls them — the raw synthetic corpus has no
  * near-dups to find.
  */
object TextQueries {
  import Registry.Q

  /** documents ∪ copy with doc_id+10000 (exact dup) — every original doc
    * has one guaranteed duplicate partner. */
  /** Delete-and-recreate a per-run scratch dir (stream checkpoints /
    * sinks that must NOT survive a run — a persisted checkpoint would
    * mark the feed consumed and serve last run's output). Null-safe on
    * listFiles (an I/O hiccup degrades to a failed delete, not an NPE).
    * @return the absolute path */
  private def freshRunDir(path: String): String = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles
      if (kids != null) kids.foreach(rm)
      f.delete(); ()
    }
    val d = new java.io.File(path)
    if (d.exists()) rm(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  private def doubled(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000L))
  }

  /** Shared DuckDB CTE prefix replaying the MinHash-LSH candidate stage
    * (doubled corpus → 3-word shingles → fnv1a64 → 128 mix64 minima →
    * 4-row band equality → candidate pairs), built programmatically: the
    * 128 per-hash-function seeds are mix64(h) from TextFunctions' OWN
    * kernel, embedded as unsigned literals (no seed drift possible);
    * mulmod expands (a*b) mod 2^64 into split 32-bit-half arithmetic that
    * stays inside INT128. Feeds q36 (candidate stats), q39 (full ladder
    * survivors) and q77 (transitive closure).
    *
    * ASCII assumption (same as the q37 simhash oracle): the fnv fold uses
    * `unicode(c)` per CHARACTER, which equals the UTF-8 byte only for
    * ASCII — a non-ASCII character folds as one code point here but as
    * 2-4 bytes in the Scala kernel. The pinned corpus is verified pure
    * ASCII; a multi-byte corpus would need a UTF-8 byte-expansion CTE. */
  /** The chain through `banded`, parameterized over the corpus SELECT —
    * the incremental form (q152) runs it over existing ∪ incoming with
    * namespaced ids; the pair form keeps the doubled corpus. */
  private def lshBandCtes(corpusSql: String): String = {
    val seeds = (0 until 128).map { h =>
      val u = java.lang.Long.toUnsignedString(TextFunctions.mix64(h.toLong))
      s"($h,CAST($u AS UBIGINT))"
    }.mkString(",")
    def mulmod(a: String, b: String): String =
      s"((($a) & 4294967295) * $b + (((($a) >> 32) * $b) & 4294967295) * 4294967296) & 18446744073709551615"
    def xorShift(u: String, s: Int): String =
      s"CAST(xor($u, $u >> $s) AS HUGEINT)"
    s"""WITH corpus AS (
       |  $corpusSql),
       |toks AS (
       |  SELECT id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS w
       |  FROM corpus),
       |shingles AS (
       |  SELECT DISTINCT id, array_to_string(w[g : g + 2], ' ') AS sh
       |  FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(g)
       |  WHERE len(w) >= 3),
       |bases AS (SELECT DISTINCT sh FROM shingles),
       |bhash AS (
       |  SELECT sh, CAST(list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(string_split(sh, ''), c -> CAST(unicode(c) AS HUGEINT))),
       |    (h, b) -> (((h & 18446744073709551360) +
       |      CAST(xor(CAST(h & 255 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
       |      * 1099511628211) & 18446744073709551615) AS UBIGINT) AS base
       |  FROM bases),
       |hseeds AS (SELECT h, seed FROM (VALUES $seeds) s(h, seed)),
       |s0 AS (SELECT sh, h,
       |  (CAST(xor(base, seed) AS HUGEINT) + 11400714819323198485) & 18446744073709551615 AS z1
       |  FROM bhash CROSS JOIN hseeds),
       |s1 AS (SELECT sh, h, ${mulmod(xorShift("CAST(z1 AS UBIGINT)", 30), "13787848793156543929")} AS z2 FROM s0),
       |s2 AS (SELECT sh, h, ${mulmod(xorShift("CAST(z2 AS UBIGINT)", 27), "10723151780598845931")} AS z3 FROM s1),
       |mixed AS (SELECT sh, h, xor(CAST(z3 AS UBIGINT), CAST(z3 AS UBIGINT) >> 31) AS vu FROM s2),
       |signedv AS (
       |  SELECT sh, h, CAST(CASE WHEN CAST(vu AS HUGEINT) >= 9223372036854775808
       |    THEN CAST(vu AS HUGEINT) - 18446744073709551616
       |    ELSE CAST(vu AS HUGEINT) END AS BIGINT) AS v
       |  FROM mixed),
       |sigs AS (
       |  SELECT s.id, m.h, min(m.v) AS sig
       |  FROM shingles s JOIN signedv m USING (sh)
       |  GROUP BY s.id, m.h),
       |banded AS (
       |  SELECT id, h // 4 AS band, string_agg(sig::VARCHAR, ',' ORDER BY h) AS key
       |  FROM sigs GROUP BY id, h // 4)""".stripMargin
  }

  /** The q152/q156 incoming batch: exact copies of the %3==0 docs
    * (+10000) and token-appended variants of the %3==1 docs (+20000) —
    * one definition for the batch and streaming forms. */
  private def incomingBatch(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" graft incremental probe words"))
            .as("text")))

  /** Shared by q152 (batch) and q156 (streaming) — the physical path
    * differs, the verdicts must not. */
  private lazy val incrementalDedupOracle: String =
    lshBandCtes(
      """SELECT doc_id AS id, text FROM documents
         |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id + 20000, text || ' graft incremental probe words'
         |    FROM documents WHERE doc_id % 3 = 1""".stripMargin) +
      """,
         |matches AS (
         |  SELECT b.id AS in_id, count(DISTINCT a.id) AS n_matches
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
         |  WHERE a.id < 10000 AND b.id >= 10000 GROUP BY 1),
         |inc AS (
         |  SELECT doc_id + 10000 AS in_id FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000 FROM documents WHERE doc_id % 3 = 1)
         |SELECT i.in_id, CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches
         |FROM inc i LEFT JOIN matches m ON m.in_id = i.in_id""".stripMargin

  private lazy val lshCandidateCtes: String =
    lshBandCtes("""SELECT doc_id AS id, text FROM documents
       |  UNION ALL SELECT doc_id + 10000, text FROM documents""".stripMargin) +
    """,
       |cand AS (
       |  SELECT DISTINCT a.id AS idA, b.id AS idB
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
       |  WHERE a.id < b.id)""".stripMargin

  private def q36Oracle: String = lshCandidateCtes +
    """,
      |est AS (
      |  SELECT c.idA, c.idB,
      |    round(CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 128, 6) AS est_jaccard
      |  FROM cand c JOIN sigs sa ON sa.id = c.idA
      |  JOIN sigs sb ON sb.id = c.idB AND sb.h = sa.h
      |  GROUP BY c.idA, c.idB)
      |SELECT (est_jaccard >= 0.99) AS is_exact_dup, count(*) AS n_pairs,
      |  round(avg(est_jaccard), 4) AS avg_est_jaccard
      |FROM est GROUP BY 1""".stripMargin

  /** q39's oracle: LSH candidates verified with exact shingle Jaccard
    * (|∩| joins on the shingle value; |∪| = nA + nB − |∩| since shingle
    * lists are distinct), greedy drop-the-greater-id, unioned with
    * sha256 exact-duplicate drops — the same decision rule as
    * Dedup.dedupeCorpus. */
  /** q77's oracle: the q39 edge set (verified near-dup ∪ exact-hash
    * pairs) closed transitively by unrolled min-label propagation — sym
    * includes self-loops so each round references the previous labels
    * exactly ONCE (multi-referenced chained CTEs trip a DuckDB
    * re-evaluation quirk that re-runs the whole LSH prefix per round:
    * 28 s vs 5 s), and MATERIALIZED pins the shared frames. Two rounds
    * close this corpus's components (all stars around their min — radius
    * 1, measured; the second round is margin + fixpoint confirmation).
    * WITH RECURSIVE would be the general form but disables DuckDB's CTE
    * optimizations (~6× slower here); the Spark operator is the general
    * solution, the oracle only needs to be exact for the static gate
    * data. */
  /** The q77 edge closure (LSH candidates → Jaccard verify ∪ exact
    * keeper stars → two min-label rounds) ending in `l2(id, g)` —
    * shared by q77's keep-one verdict and q214's split registry. */
  private lazy val q77EdgeClosureCtes: String = lshCandidateCtes +
    edgeClosureTail(2)

  /** The same closure over an ARBITRARY corpus CTE (q219): emitted
    * after a `lshBandCtes(corpusSql)` + `cand` prefix; identical to
    * the q77 chain by construction up to the propagation depth
    * (q219's fixture chains base near-dup components with twin edges,
    * so its min-label radius exceeds the doubled corpus's measured 1 —
    * callers pass the rounds their component diameter needs; the final
    * label CTE is always named l2). */
  private def edgeClosureCtes(corpusSql: String, rounds: Int): String =
    lshBandCtes(corpusSql) +
      """,
        |cand AS (
        |  SELECT DISTINCT a.id AS idA, b.id AS idB
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        |  WHERE a.id < b.id)""".stripMargin +
      edgeClosureTail(rounds)

  /** Duplicate edges over `cand` pairs: Jaccard ≥ 0.8 on `shingles`
    * plus exact-text keeper stars, symmetrized with self-loops as `sym`,
    * and the seed labels `l0(id, g)`. */
  private def jaccardEdgeCtes: String =
    """inter AS (
      |  SELECT c.idA, c.idB, count(*) AS ni
      |  FROM cand c JOIN shingles sa ON sa.id = c.idA
      |  JOIN shingles sb ON sb.id = c.idB AND sb.sh = sa.sh
      |  GROUP BY c.idA, c.idB),
      |sizes AS (SELECT id, count(*) AS n FROM shingles GROUP BY id),
      |edges AS MATERIALIZED (
      |  SELECT i.idA AS a, i.idB AS b
      |  FROM inter i JOIN sizes na ON na.id = i.idA JOIN sizes nb ON nb.id = i.idB
      |  WHERE round(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 6) >= 0.8
      |  UNION
      |  SELECT k.keeper AS a, c.id AS b
      |  FROM corpus c JOIN (
      |    SELECT sha256(text) AS h, min(id) AS keeper FROM corpus GROUP BY 1) k
      |  ON sha256(c.text) = k.h
      |  WHERE c.id <> k.keeper),
      |sym AS MATERIALIZED (
      |  SELECT a, b FROM edges UNION SELECT b, a FROM edges
      |  UNION SELECT a, a FROM edges UNION SELECT b, b FROM edges),
      |l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS g FROM sym)""".stripMargin

  /** Unrolled min-label propagation (`rounds` ≥ 2 joins over `sym`),
    * ending in the FINAL label CTE `l2` whatever the depth — every
    * consumer selects from `l2`; intermediate rounds are li1.. to keep
    * one namespace. */
  private def edgeClosureTail(rounds: Int): String = {
    require(rounds >= 1)
    val names = (1 until rounds).map(i => s"li$i") :+ "l2"
    val its = names.zipWithIndex.map { case (name, i) =>
      val prev = if (i == 0) "l0" else names(i - 1)
      s""",
         |$name AS MATERIALIZED (
         |  SELECT s.a AS id, min(l.g) AS g
         |  FROM sym s JOIN $prev l ON l.id = s.b GROUP BY s.a)""".stripMargin
    }.mkString
    ",\n" + jaccardEdgeCtes + its
  }

  private def q77Oracle: String = q77EdgeClosureCtes +
    """,
      |drops AS (SELECT id FROM l2 WHERE g < id),
      |kept AS (SELECT id FROM corpus WHERE id NOT IN (SELECT id FROM drops))
      |SELECT count(*) AS n_kept,
      |  CAST(sum(CASE WHEN id < 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_originals
      |FROM kept""".stripMargin

  /** q214's oracle: the q77 closure (LSH candidates → Jaccard ≥ 0.8 ∪
    * exact keeper stars → min-label rounds) emitted as the full
    * (id, group) registry with singletons mapped to themselves, then
    * the mix64 8:2 split on the GROUP id (vu % 10 == Spark's
    * remainderUnsigned on the same splitmix64). */
  private def q214Oracle: String = q77EdgeClosureCtes +
    s""",
      |glab AS (
      |  SELECT c.id, coalesce(l.g, c.id) AS g
      |  FROM corpus c LEFT JOIN l2 l ON l.id = c.id),
      |${RelationalQueries5.mix64Stages("glab", Seq("id", "g"),
           "CAST(g AS HUGEINT)", prefix = "m")}
      |SELECT id AS doc_id, g AS group_id,
      |  CASE WHEN vu % 10 < 8 THEN 'train' ELSE 'eval' END AS split
      |FROM mmixed""".stripMargin

  /** q161's oracle: FULL RECOMPUTE over existing ∪ incoming — LSH
    * candidates verified at Jaccard ≥ 0.8 ∪ exact-hash keeper stars,
    * closed by unrolled min-label propagation (l0..l2 — component radius
    * here is 1: every edge is incident to a base doc or its identical
    * +10000 copy; two rounds = radius-2 margin, the q77 discipline),
    * emitted as the full (id, group_id) registry with singletons mapped
    * to themselves. The Spark side computes the SAME registry
    * incrementally (epoch closure + contracted batch CC) — the gate is
    * precisely "incremental equals full recompute". */
  private def q161Oracle: String = lshBandCtes(
    """SELECT doc_id AS id, text FROM documents
       |  UNION ALL SELECT doc_id + 10000, text FROM documents
       |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id + 30000, text || ' graft incremental probe words'
       |    FROM documents WHERE doc_id % 3 = 1""".stripMargin) +
    s""",
      |cand AS (
      |  SELECT DISTINCT a.id AS idA, b.id AS idB
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
      |  WHERE a.id < b.id),
      |$jaccardEdgeCtes,
      |l1 AS MATERIALIZED (
      |  SELECT s.a AS id, min(l.g) AS g
      |  FROM sym s JOIN l0 l ON l.id = s.b GROUP BY s.a),
      |l2 AS MATERIALIZED (
      |  SELECT s.a AS id, min(l.g) AS g
      |  FROM sym s JOIN l1 l ON l.id = s.b GROUP BY s.a)
      |SELECT c.id, coalesce(l.g, c.id) AS group_id
      |FROM corpus c LEFT JOIN l2 l ON l.id = c.id""".stripMargin

  private def q39Oracle: String = lshCandidateCtes +
    """,
      |inter AS (
      |  SELECT c.idA, c.idB, count(*) AS ni
      |  FROM cand c JOIN shingles sa ON sa.id = c.idA
      |  JOIN shingles sb ON sb.id = c.idB AND sb.sh = sa.sh
      |  GROUP BY c.idA, c.idB),
      |sizes AS (SELECT id, count(*) AS n FROM shingles GROUP BY id),
      |near_drops AS (
      |  SELECT greatest(i.idA, i.idB) AS dropId
      |  FROM inter i JOIN sizes na ON na.id = i.idA JOIN sizes nb ON nb.id = i.idB
      |  WHERE round(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 6) >= 0.8),
      |exact_drops AS (
      |  SELECT c.id AS dropId
      |  FROM corpus c JOIN (
      |    SELECT sha256(text) AS h, min(id) AS keeper FROM corpus GROUP BY 1) k
      |  ON sha256(c.text) = k.h
      |  WHERE c.id <> k.keeper),
      |drops AS (
      |  SELECT DISTINCT dropId FROM (
      |    SELECT dropId FROM exact_drops UNION ALL SELECT dropId FROM near_drops)),
      |kept AS (SELECT id FROM corpus WHERE id NOT IN (SELECT dropId FROM drops))
      |SELECT count(*) AS n_kept,
      |  CAST(sum(CASE WHEN id < 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_originals,
      |  CAST(sum(CASE WHEN id >= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
      |FROM kept""".stripMargin

  /** Planted quality-rule violators for q177 — one doc per Gopher rule,
    * each failing ITS rule while passing the others where the rules
    * don't inherently interact (the symbol doc also fails alpha: '#'
    * tokens carry no letter — that interaction is real, not an
    * artifact). Shared verbatim between the Spark corpus and the DuckDB
    * oracle (newlines become chr(10) concatenation in SQL). */
  private[graft] val qualityPlanted: Seq[(Long, String)] = Seq(
    50001L -> "way too short to keep.",
    50002L -> ("pneumonoultramicroscopicsilicovolcanoconiosis supercalifragilisticexpialidocious " +
      "honorificabilitudinitatibus antidisestablishmentarianism floccinaucinihilipilification " +
      "pseudopseudohypoparathyroidism thyroparathyroidectomized dichlorodifluoromethane " +
      "incomprehensibilities uncharacteristically the a is of and to in that for it"),
    50003L -> ("the data # pipeline # holds # a # lot # of # hash # marks # in # it # today # now"),
    50004L -> ("- item one for the group\n- item two for the group\n" +
      "- item three for the group\n- item four for the group"),
    50005L -> ("the story trails off here...\nthe next line also fades away...\n" +
      "the third line keeps going fine\nthe fourth one ends quietly now"),
    50006L -> "the totals 111 222 333 444 555 666 777 888 999 000 are in it",
    50007L -> ("lorem ipsum dolor sit amet consectetur adipiscing elit sed " +
      "eiusmod tempor incididunt labore dolore magna aliqua"))

  /** Shared oracle for q174 (batch-incremental) and q178 (streaming):
    * both compute the same "how much of this new doc is copied from the
    * corpus" answer against the same planted incoming batch, so one SQL
    * replay gates both — the streaming query's correctness claim IS
    * batch-equality. */
  private[graft] def incrementalSubstringOracle: String = {
    def fold(slice: String): String =
      s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), $slice),
         |    (h, b) -> (((h & 18446744073709551360) +
         |      CAST(xor(CAST(h & 255 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
         |      * 1099511628211) & 18446744073709551615)""".stripMargin
    def winCtes(src: String, p: String): String =
      s"""${p}codes AS MATERIALIZED (
         |  SELECT id, list_transform(list_filter(string_split(text, ''), c -> c <> ''),
         |    c -> CASE WHEN unicode(c) BETWEEN 0 AND 127 THEN CAST(unicode(c) AS HUGEINT)
         |      ELSE CAST(error('non-ASCII byte in q174/q178 oracle') AS HUGEINT) END) AS cs
         |  FROM $src WHERE text IS NOT NULL),
         |${p}pos AS (SELECT id, cs, unnest(generate_series(1, len(cs) - 63)) AS i
         |  FROM ${p}codes WHERE len(cs) >= 64),
         |${p}wins AS MATERIALIZED (
         |  SELECT id, ${fold("cs[i:i+63]")} AS h
         |  FROM ${p}pos WHERE ${fold("cs[i:i+3]")} % 16 = 0)""".stripMargin
    val slogan = " entirely novel appended content the corpus has never seen"
    s"""WITH ex AS (SELECT doc_id AS id, text FROM documents),
       |inc AS (
       |  SELECT doc_id + 10000 AS id, text FROM documents WHERE doc_id % 4 = 0
       |  UNION ALL SELECT doc_id + 20000,
       |    substr(text, 1, length(text) // 2) || '$slogan'
       |    FROM documents WHERE doc_id % 4 = 1
       |  UNION ALL SELECT doc_id + 30000, reverse(text)
       |    FROM documents WHERE doc_id % 4 = 2),
       |${winCtes("ex", "e")},
       |${winCtes("inc", "n")},
       |eidx AS (SELECT DISTINCT h FROM ewins),
       |nw AS (SELECT id, count(*) AS n_windows FROM nwins GROUP BY id),
       |ndp AS (SELECT id, count(*) AS n_dup FROM nwins
       |  WHERE h IN (SELECT h FROM eidx) GROUP BY id)
       |SELECT c.id AS in_id, CAST(coalesce(nw.n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(ndp.n_dup, 0) AS BIGINT) AS n_dup_windows,
       |  round(CASE WHEN coalesce(nw.n_windows, 0) = 0 THEN 0.0
       |    ELSE CAST(coalesce(ndp.n_dup, 0) AS DOUBLE) / nw.n_windows END, 6) AS dup_frac
       |FROM inc c LEFT JOIN nw ON nw.id = c.id LEFT JOIN ndp ON ndp.id = c.id""".stripMargin
  }

  private[graft] def qualityPlantedSql: String =
    qualityPlanted.map { case (id, t) =>
      s"SELECT CAST($id AS BIGINT) AS doc_id, '${t.replace("\n", "' || chr(10) || '")}' AS text"
    }.mkString("\n  UNION ALL ")

  /** KEEP-ONE span-removal replay CTEs over a corpus CTE (must yield
    * (id, text)) — the q182 oracle chain, factored so the q187
    * capstone can run the identical replay mid-pipeline. Emits
    * `{p}codes … {p}stats` plus the final `{p}clean(id, n_spans,
    * removed_chars, clean_text)` — cleaned corpus with pass-through
    * docs included (clean_text = original text when no span was cut).
    * 1-based char positions; island test i > max_prev(i'+64) == the
    * Spark kernel's pos > prev_end. */
  /** q228's planted boilerplate — one sentence long enough to carry
    * several content-anchored windows shared verbatim by every doc it's
    * appended to. */
  private val q228Banner: String =
    " click here to accept cookies and subscribe to our newsletter for" +
    " the latest updates delivered straight to your inbox every single" +
    " morning without fail"

  /** The q210 BM25 scoring chain, parameterized: CTEs `{p}terms …
    * {p}sc(qid, id, score_micro)` over `src(idExpr, text)`; `predSql`
    * selects the query docs (column name `id`). Shared by q210 (ranked
    * top-k) and q224 (group-excluded hard negatives). */
  /** Lowercased whitespace tokens `tw(doc_id, w)` of `src(doc_id, text)`
    * and their 0-based positions `pos(doc_id, pos, term)`. */
  private def posCtes(tw: String, src: String): String =
    s"""$tw AS (SELECT doc_id, string_split_regex(
       |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS w
       |  FROM $src),
       |pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS term
       |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
       |        FROM $tw)
       |  WHERE length(w[i]) > 0)""".stripMargin

  /** q303's proximity bonus over [[bm25ScoreCtes]]' `qt`/`sc` and the
    * positions of `src`, ending in the boosted top-10 per query. */
  private def proximityRankTail(src: String): String =
    s"""${posCtes("tw0", src)},
       |qp AS (SELECT q.qid, p.doc_id AS id, q.term, p.pos
       |  FROM qt q JOIN pos p ON p.term = q.term
       |  WHERE p.doc_id <> q.qid),
       |md AS (SELECT a.qid, a.id, a.term AS t1, b.term AS t2,
       |    min(abs(a.pos - b.pos)) AS mdv
       |  FROM qp a JOIN qp b ON b.qid = a.qid AND b.id = a.id
       |    AND a.term < b.term
       |  GROUP BY 1, 2, 3, 4),
       |px AS (SELECT qid, id,
       |    CAST(sum(1000000 // (1 + mdv)) AS BIGINT) AS prox
       |  FROM md GROUP BY 1, 2),
       |totx AS (SELECT s.qid, s.id,
       |    s.score_micro + coalesce(p.prox, 0) AS total,
       |    coalesce(p.prox, 0) AS prox
       |  FROM sc s LEFT JOIN px p ON p.qid = s.qid AND p.id = s.id)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, id,
       |  CAST(total AS BIGINT) AS score_micro,
       |  CAST(prox AS BIGINT) AS prox_micro
       |FROM (SELECT qid, id, total, prox, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY total DESC, id) AS rank FROM totx)
       |WHERE rank <= 10""".stripMargin

  /** The top-10 per `qid` of `sc(qid, id, score_micro)` by score, then
    * id — the closing SELECT of the BM25 ranking oracles. */
  private def rankedTop10Tail(sc: String): String =
    s"""ranked AS (SELECT qid, id, score_micro,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score_micro DESC, id) AS rank
       |  FROM $sc)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, id, score_micro
       |FROM ranked WHERE rank <= 10""".stripMargin

  /** q315's oracle: conjunctive must-terms with a qnotone exclusion per
    * standing query (shared by the streaming form, q316). */
  private def percolatorOracle: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, CASE WHEN doc_id % 20 = 0
      |    THEN text || ' qnotone' ELSE text END AS text
      |  FROM documents),
      |qm AS (${prefixQueryTerms(90000, 6, "doc_id < 15")}
      |  UNION SELECT qid, term FROM (VALUES (90100, 'the'),
      |    (90100, 'qnotone')) t(qid, term)),
      |qn AS (SELECT doc_id + 90000 AS qid, 'qnotone' AS term
      |  FROM documents WHERE doc_id < 15 AND doc_id % 3 = 0
      |  UNION ALL SELECT 90100, 'qnotone'),
      |nm AS (SELECT qid, CAST(count(*) AS BIGINT) AS n FROM qm
      |  GROUP BY 1),
      |dt AS (SELECT DISTINCT doc_id AS id, lower(tk) AS term
      |  FROM (SELECT doc_id, unnest(string_split_regex(
      |      regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tk
      |    FROM corpus)
      |  WHERE length(tk) > 0),
      |hits AS (SELECT d.id, m.qid, CAST(count(*) AS BIGINT) AS c
      |  FROM dt d JOIN qm m USING (term) GROUP BY 1, 2)
      |SELECT h.id, h.qid FROM hits h JOIN nm ON nm.qid = h.qid
      |WHERE h.c = nm.n
      |  AND NOT EXISTS (SELECT 1 FROM qn n JOIN dt d2
      |    ON d2.id = h.id AND d2.term = n.term
      |    WHERE n.qid = h.qid)""".stripMargin

  /** External query terms: the distinct lowercased first `n` tokens of
    * each document matching `where`, keyed `qid = doc_id + offset`. */
  private def prefixQueryTerms(offset: Int, n: Int, where: String): String =
    s"""SELECT DISTINCT doc_id + $offset AS qid, lower(tk) AS term
       |  FROM (SELECT doc_id, unnest(string_split_regex(
       |      regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')[1:$n]) AS tk
       |    FROM documents WHERE $where)
       |  WHERE length(tk) > 0""".stripMargin

  /** RM3 over [[bm25ScoreCtes]]: feedback docs `fb` (top 5 of `sc`),
    * the 10 heaviest non-query terms `ex`, and the query/expansion
    * weights mixed 1:1 as `allw(qid, term, wt)`. */
  private def rm3WeightCtes: String =
    """fb AS (SELECT qid, id FROM (
      |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY score_micro DESC, id) AS r FROM sc) WHERE r <= 5),
      |rmw AS (SELECT f.qid, t.term,
      |    CAST(sum((t.tf * 1000000) // d.dl) AS BIGINT) AS rm_w
      |  FROM fb f JOIN tf t ON t.id = f.id JOIN dl d ON d.id = f.id
      |  GROUP BY 1, 2),
      |rmx AS (SELECT r.qid, r.term, r.rm_w FROM rmw r
      |  WHERE NOT EXISTS (SELECT 1 FROM qt q
      |    WHERE q.qid = r.qid AND q.term = r.term)),
      |ex AS (SELECT qid, term, rm_w FROM (
      |    SELECT qid, term, rm_w, ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY rm_w DESC, term) AS er FROM rmx) WHERE er <= 10),
      |ws AS (SELECT qid, CAST(sum(rm_w) AS BIGINT) AS wsum
      |  FROM ex GROUP BY 1),
      |expw AS (SELECT e.qid, e.term, (e.rm_w * 500000) // w.wsum AS wt
      |  FROM ex e JOIN ws w USING (qid)),
      |nqc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n
      |  FROM qt GROUP BY 1),
      |origw AS (SELECT q.qid, q.term, 500000 // n.n AS wt
      |  FROM qt q JOIN nqc n USING (qid)),
      |allw AS (SELECT qid, term, wt FROM origw
      |  UNION ALL SELECT qid, term, wt FROM expw)""".stripMargin

  /** SymSpell delete-1 matching of the query terms `queryRows` (VALUES
    * rows of (qid, qt)) against `dfq(term, df)`: shared variants, the
    * ±1 length rule and the OSA ≤ 1 verify, ending in
    * `fm(qid, qt, term, df)`. */
  private def fuzzyMatchCtes(queryRows: String): String =
    s"""fv AS (SELECT term, df, unnest(list_distinct(list_concat([term],
       |    list_transform(generate_series(0, length(term) - 1),
       |      i -> substr(term, 1, i) || substr(term, i + 2))))) AS v
       |  FROM dfq),
       |fq AS (SELECT qid, qt, unnest(list_distinct(list_concat([qt],
       |    list_transform(generate_series(0, length(qt) - 1),
       |      i -> substr(qt, 1, i) || substr(qt, i + 2))))) AS v
       |  FROM (VALUES $queryRows) q(qid, qt)),
       |cand AS (SELECT DISTINCT fq.qid, fq.qt, fv.term, fv.df
       |  FROM fv JOIN fq ON fq.v = fv.v
       |  WHERE abs(length(fv.term) - length(fq.qt)) <= 1
       |    AND fv.term <> fq.qt),
       |cmm AS (SELECT qid, qt, term, df,
       |    list_filter(generate_series(1, length(term)),
       |      p -> substr(term, p, 1) <> substr(qt, p, 1)) AS mm
       |  FROM cand),
       |fm AS (SELECT qid, qt, term, df FROM cmm
       |  WHERE length(term) <> length(qt)
       |     OR len(mm) <= 1
       |     OR (len(mm) = 2 AND mm[2] = mm[1] + 1
       |         AND substr(term, mm[1], 1) = substr(qt, mm[2], 1)
       |         AND substr(term, mm[2], 1) = substr(qt, mm[1], 1)))""".stripMargin

  /** Lowercased whitespace terms of `src(doc_id, text)` and their
    * document frequencies `dfq(term, df)`. */
  private def termDfCtes(src: String): String =
    s"""terms AS (SELECT doc_id AS id, unnest(string_split_regex(
       |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS term
       |  FROM $src),
       |tfq AS (SELECT id, term FROM terms WHERE length(term) > 0
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM tfq GROUP BY 1)""".stripMargin

  /** `m`: the occurrences of the planted phrase "zq0grafted exact phrase
    * marker" in `pos`, as adjacency joins anchored at alias `a`,
    * selecting `cols`; a caller may append a GROUP BY before closing. */
  private def markerPhraseCte(cols: String): String =
    s"""m AS (SELECT $cols FROM pos a
       |  JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |    AND b.term = 'exact'
       |  JOIN pos c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
       |    AND c.term = 'phrase'
       |  JOIN pos d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
       |    AND d.term = 'marker'
       |  WHERE a.term = 'zq0grafted'""".stripMargin

  /** Positions of `src(id, text)` as `{p}tw`/`{p}pos`, the planted
    * phrase's matches `{p}m(id, pos)` and per-doc counts `{p}occ(id, n)`
    * (q334/q342: the phrase leg, replayed per corpus version). */
  private def phraseLegCtes(p: String, src: String): String =
    s"""${p}tw AS (SELECT id, string_split_regex(
       |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS w
       |  FROM $src),
       |${p}pos AS (SELECT id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS term
       |  FROM (SELECT id, w, unnest(generate_series(1, len(w))) AS i
       |        FROM ${p}tw)
       |  WHERE length(w[i]) > 0),
       |${p}m AS (SELECT a.id, a.pos FROM ${p}pos a
       |  JOIN ${p}pos b ON b.id = a.id AND b.pos = a.pos + 1
       |    AND b.term = 'exact'
       |  JOIN ${p}pos c ON c.id = a.id AND c.pos = a.pos + 2
       |    AND c.term = 'phrase'
       |  JOIN ${p}pos e ON e.id = a.id AND e.pos = a.pos + 3
       |    AND e.term = 'marker'
       |  WHERE a.term = 'zq0grafted'),
       |${p}occ AS (SELECT id, CAST(count(*) AS BIGINT) AS n
       |  FROM ${p}m GROUP BY 1)""".stripMargin

  /** The q306 phrase plant plus 'zxsingular' on %9 docs, as CTE `pl`.
    * Its lines start with `||`: append it with `+`; a second
    * stripMargin would cut the concatenation to a bitwise `|`. */
  private def zxPlantedCte: String =
    """pl AS (SELECT doc_id, text
      |    || CASE WHEN doc_id % 14 = 0
      |      THEN ' zq0grafted exact phrase marker zq0grafted exact phrase marker'
      |      WHEN doc_id % 7 = 0
      |      THEN ' zq0grafted exact phrase marker' ELSE '' END
      |    || CASE WHEN doc_id % 9 = 0 THEN ' zxsingular' ELSE '' END
      |      AS text
      |  FROM documents)""".stripMargin

  /** q302's snippet windows for the hits `res(qid, id)` of `src`: the
    * hit docs' positions, query-term hits per 20-token window and the
    * densest window `best(qid, id, snip_start, n_hits)` (ties to the
    * earliest start). */
  private def snippetWindowCtes(src: String): String =
    s"""${posCtes("tw", s"$src\n  WHERE doc_id IN (SELECT id FROM res)")},
       |hp AS (SELECT r.qid, r.id, p.pos
       |  FROM res r JOIN qt q ON q.qid = r.qid
       |  JOIN pos p ON p.doc_id = r.id AND p.term = q.term),
       |wh AS (SELECT qid, id, pos,
       |    count(*) OVER (PARTITION BY qid, id ORDER BY pos
       |      RANGE BETWEEN CURRENT ROW AND 19 FOLLOWING) AS n_hits
       |  FROM hp),
       |best AS (SELECT qid, id, pos AS snip_start, n_hits FROM (
       |    SELECT qid, id, pos, n_hits, ROW_NUMBER() OVER (
       |      PARTITION BY qid, id ORDER BY n_hits DESC, pos) AS rn
       |    FROM wh) WHERE rn = 1)""".stripMargin

  /** q246's oracle: the hybrid top-10 per query, one chunk per doc,
    * packed in rank order into a 384-token context (shared by the
    * streaming form, q263). */
  private def ragContextOracle: String =
    hybridChunkOracleChain +
    """,
      |cand2 AS (SELECT qid, nid, rank FROM rankedf WHERE rank <= 10),
      |fpd AS (SELECT qid, nid, rank, row_number() OVER (
      |    PARTITION BY qid, nid // 1048576 ORDER BY rank) AS dr FROM cand2),
      |keep AS (SELECT qid, nid, rank FROM fpd WHERE dr = 1),
      |ctok AS (SELECT chunk_key,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ct FROM chunks),
      |asm AS (SELECT k.qid, k.nid, k.rank, c.ct,
      |    row_number() OVER (PARTITION BY k.qid ORDER BY k.rank) AS ctx_pos,
      |    sum(c.ct) OVER (PARTITION BY k.qid ORDER BY k.rank
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM keep k JOIN ctok c ON c.chunk_key = k.nid)
      |SELECT qid, CAST(ctx_pos AS BIGINT) AS ctx_pos, nid AS chunk_key,
      |  CAST(nid // 1048576 AS BIGINT) AS doc_id, ct AS chunk_tokens,
      |  CAST(cum AS BIGINT) AS cum_tokens
      |FROM asm WHERE cum <= 384""".stripMargin

  /** q306's CRUD survivors as CTE `surv` (epoch %3≠0 ∪ batch %3=0 at
    * +50000, minus the %11=3 deletions) and the phrase plant over them
    * as CTE `corpus`. */
  private def crudSurvivorCtes: String =
    """surv AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
      |    UNION ALL
      |    SELECT doc_id + 50000, text FROM documents WHERE doc_id % 3 = 0)
      |  WHERE doc_id % 11 <> 3),
      |corpus AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 14 = 0
      |      THEN text || ' zq0grafted exact phrase marker zq0grafted exact phrase marker'
      |      WHEN doc_id % 7 = 0
      |      THEN text || ' zq0grafted exact phrase marker'
      |      ELSE text END AS text
      |  FROM surv)""".stripMargin

  private def bm25ScoreCtes(src: String, idExpr: String, predSql: String,
      p: String = "", qtOverride: Option[String] = None): String =
    s"""${p}terms AS (
       |  SELECT $idExpr AS id,
       |    unnest(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS term
       |  FROM $src),
       |${p}tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM ${p}terms
       |       WHERE length(term) > 0 GROUP BY 1, 2),
       |${p}dl AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM ${p}terms
       |       WHERE length(term) > 0 GROUP BY 1),
       |${p}dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM ${p}tf GROUP BY 1),
       |${p}tot AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ${p}terms
       |                WHERE length(term) > 0) AS t,
       |               (SELECT CAST(COUNT(*) AS BIGINT) FROM $src) AS n),
       |${p}idf AS (SELECT term,
       |    CAST(round(ln(CAST(2 * tot.n + 2 AS DOUBLE)
       |      / CAST(2 * df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM ${p}dfq, ${p}tot tot),
       |${p}contrib AS (SELECT tf.term, tf.id,
       |    (2 * idf.idf_micro * 44 * tf.tf * tot.t
       |      + (20 * tot.t * tf.tf + 6 * tot.t + 18 * dl.dl * tot.n))
       |    // (2 * (20 * tot.t * tf.tf + 6 * tot.t + 18 * dl.dl * tot.n)) AS c
       |  FROM ${p}tf tf JOIN ${p}idf idf USING (term)
       |    JOIN ${p}dl dl USING (id), ${p}tot tot),
       |${p}qt AS (${qtOverride.getOrElse(
             s"SELECT id AS qid, term FROM ${p}tf WHERE $predSql")}),
       |${p}sc AS (SELECT q.qid, c.id, CAST(sum(c.c) AS BIGINT) AS score_micro
       |  FROM ${p}qt q JOIN ${p}contrib c USING (term)
       |  WHERE c.id <> q.qid GROUP BY 1, 2)""".stripMargin

  /** The q241 hybrid chunk-retrieval Spark pipeline — chunking, the
    * BM25 lexical leg, the 64-bucket hashed-count dense leg under
    * SRP-LSH, and integer-RRF fusion — shared by q241 (the ranking
    * itself) and q246 (context assembly over it).
    * @return (qid, nid, rrf, rank) top-10 per query */
  private def hybridChunkRanks(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val (_, _, lex, dense) = hybridLegs(spark, dir)
    graft.operators.Fusion.rrfTopK(Seq(lex, dense), k = 10)
  }

  /** The q241 pipeline's building blocks — (chunks, queries, lex,
    * dense) with chunks persisted (consumed by both featurizers). The
    * eval queries (q250 MRR / q281 nDCG) consume the lexical and dense
    * legs TWICE each (their own per-leg metrics AND as the fusion's
    * inputs): sharing the leg frames — instead of re-running chunking,
    * the posting join and the SRP band join inside a second
    * hybridChunkRanks call — halves those queries' work (r19 opt pass;
    * legs are result-identical by construction, hashes re-gated).
    * Callers that consume a leg more than once persist it themselves. */
  private def hybridLegs(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // consumed by BOTH legs (lexical postings + dense featurizer) —
    // one chunk pass instead of two
    val chunks = graft.operators.OperatorCaches.track(
      graft.operators.Curation.chunkTexts(
        d, "doc_id", "text", 128, 32).persist())
    val queries = d.filter(col("doc_id") < 5)
      .select((col("doc_id") + 9000000L).as("qid"),
        array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
          .as("qtext"))
    val lex = graft.operators.Bm25.topKExternal(chunks, "chunk_key",
        "chunk_text", queries, "qid", "qtext", k = 10)
      .select(col("qid"), col("id").as("nid"), col("rank"))
    val dense = graft.operators.Similarity.srpTopK(
        hashedCountVecs(queries, "qid", "qtext"),
        hashedCountVecs(chunks, "chunk_key", "chunk_text"), k = 10)
      .select(col("qid"), col("nid"), col("rank"))
    (chunks, queries, lex, dense)
  }

  /** The hybrid dense leg's featurizer: a 64-bucket fnv1a64-hashed
    * term-count vector per row, as (vec_id, embedding FLOAT[64]) —
    * shared by q241's dense leg and q247's recall audit of it. */
  private def hashedCountVecs(df: org.apache.spark.sql.DataFrame,
      idc: String, txt: String): org.apache.spark.sql.DataFrame =
    // r20 single-pass form (guide §1.2 step 1 — the algorithm): the old
    // explode → groupBy(vec_id, b) → groupBy(vec_id) chain shuffled the
    // corpus's exploded TOKEN table twice (plus one fnv1a64 UDF call per
    // token) to build a per-ROW 64-bucket histogram. The per-row kernel
    // (hashedCountVecRowUdf, already gated kernel-equal against this
    // chain's oracle replay via q257) computes the same counts in one
    // projection, zero exchanges. The pre-filter reproduces the
    // aggregated form's row set exactly: a row survived iff it had ≥1
    // token, i.e. its trimmed text is non-empty (tokens() splits the
    // trimmed text on \s+).
    df.filter(col(txt).isNotNull &&
        length(regexp_replace(col(txt), "^\\s+|\\s+$", "")) > 0)
      .select(col(idc).as("vec_id"),
        hashedCountVecRowUdf(col(txt)).as("embedding"))

  /** Per-ROW form of [[hashedCountVecs]] (one UDF, no aggregation) —
    * the STREAM-SAFE featurizer: a streaming queries frame must
    * produce its dense-leg vectors without the aggregated form's two
    * stateful groupBys. Kernel-equal by construction: same lower →
    * whitespace tokens → fnv1a64 & 63 bucket counts (q257 gates the
    * equality against the q241 chain, whose oracle replays the
    * aggregated form). A zero-token text yields the zero vector here
    * (vs no row there) — both are dropped by the SRP stage's norm>0
    * guard before any band forms. */
  private val hashedCountVecRowUdf = udf((t: String) => {
    val counts = new Array[Float](64)
    if (t != null) {
      val trimmed = t.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("^\\s+|\\s+$", "")
      if (trimmed.nonEmpty) trimmed.split("\\s+").foreach { tok =>
        if (tok.nonEmpty)
          counts((TextFunctions.fnv1a64(tok) & 63L).toInt) += 1f
      }
    }
    counts.toSeq
  })

  /** The q257/q263 STREAMING hybrid pipeline: query docs stream from a
    * fingerprint-keyed parquet fixture; the lexical leg is the q245
    * stream-static posting join (ONE stateful score sum), the dense leg
    * is the per-row featurizer + stateless SRP band join/cosine
    * ([[graft.operators.Similarity.srpScoredCandidates]]) deduped by
    * ONE max(sim) aggregation; ranking + integer-RRF fusion run
    * batch-side on the materialized scores. `tag` keys the two memory
    * sinks so multiple queries can run the pipeline in one session.
    * @return (qid, nid, rrf, rank) — q241's exact output shape */
  private def streamingHybridRanks(spark: org.apache.spark.sql.SparkSession,
      dir: String, tag: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // chunks feed BOTH legs' static sides, and a Complete-mode
    // stream-static join re-executes the static subtree per micro-batch
    // — persist the chunk pass and the dense featurization once
    // (r19 opt; the lexical stats already persist inside indexStats)
    val chunks = graft.operators.OperatorCaches.track(
      graft.operators.Curation.chunkTexts(
        d, "doc_id", "text", 128, 32).persist())
    val queries = d.filter(col("doc_id") < 5)
      .select((col("doc_id") + 9000000L).as("qid"),
        array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
          .as("qtext"))
    val inDir = s"/tmp/graft-hybstream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
      s"-${Tables.fingerprint(queries, "qid", s"$dir/documents_hybstream")}"
    if (!new java.io.File(s"$inDir/_SUCCESS").exists())
      queries.write.mode("overwrite").parquet(inDir)
    val stats = graft.operators.Bm25.indexStats(
      chunks, "chunk_key", "chunk_text")
    val lexScores = graft.streaming.EventStream.runToCompletion(spark, inDir,
      stream => graft.operators.Bm25.scoreExternalStats(
        stats, stream, "qid", "qtext"),
      org.apache.spark.sql.streaming.OutputMode.Complete,
      s"${tag}lex_${math.abs(dir.hashCode)}",
      shufflePartitions = Some(8))
    val chunkVecs = graft.operators.OperatorCaches.track(
      hashedCountVecs(chunks, "chunk_key", "chunk_text").persist())
    val denseScores = graft.streaming.EventStream.runToCompletion(spark, inDir,
      stream => graft.operators.Similarity.srpScoredCandidates(
          stream.select(col("qid").as("vec_id"),
            hashedCountVecRowUdf(col("qtext")).as("embedding")),
          chunkVecs)
        .groupBy(col("qid"), col("nid")).agg(max(col("sim")).as("sim")),
      org.apache.spark.sql.streaming.OutputMode.Complete,
      s"${tag}dense_${math.abs(dir.hashCode)}",
      shufflePartitions = Some(8))
    import org.apache.spark.sql.expressions.Window
    val wl = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("id").asc)
    val lex = lexScores.withColumn("rank", row_number().over(wl))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("id").as("nid"), col("rank"))
    val wd = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    val dense = denseScores.withColumn("rank", row_number().over(wd))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("nid"), col("rank"))
    graft.operators.Fusion.rrfTopK(Seq(lex, dense), k = 10)
  }

  /** The q241 oracle replay up to `rankedf(qid, nid, rrf, rank)` — the
    * full chunk + both-leg + fusion chain; q241 selects the ranking,
    * q246 appends the context-assembly tail. */
  /** q281's log2 discount table, micro-units — computed ONCE here and
    * embedded as literals in BOTH the Spark plan and the DuckDB VALUES,
    * so an engine-libm log2 ulp difference can never reach the gate. */
  private val ndcgWts: Seq[Long] = (1 to 10).map(r =>
    math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))
  private val ndcgIdcg: Seq[Long] = ndcgWts.scanLeft(0L)(_ + _).tail
  private val wtsSql: String = ndcgWts.zipWithIndex
    .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
  private val idcgSql: String = ndcgIdcg.zipWithIndex
    .map { case (s, i) => s"(${i + 1}, $s)" }.mkString(", ")

  private def hybridChunkOracleChain: String = {
    val fold = RelationalQueries5.fnvFold("term")
    "WITH " +
        """ctoks AS (SELECT doc_id, regexp_extract_all(text, '\w+|[^\w\s]') AS t
          |  FROM documents),
          |cst AS (SELECT doc_id, t, len(t) AS n FROM ctoks WHERE len(t) > 0),
          |cnc AS (SELECT doc_id, t, n, CASE WHEN n <= 128 THEN 1
          |    ELSE (n - 128 + 95) // 96 + 1 END AS n_chunks FROM cst),
          |cch AS (SELECT doc_id, t, n,
          |    unnest(generate_series(0, n_chunks - 1)) AS ci FROM cnc),
          |chunks AS (SELECT doc_id * 1048576 + ci AS chunk_key,
          |    array_to_string(t[ci*96 + 1 : ci*96 + least(128, n - ci*96)], ' ')
          |      AS text
          |  FROM cch),
          |qsrc AS (SELECT doc_id + 9000000 AS qid, array_to_string(
          |    string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'),
          |      '\s+')[1:25], ' ') AS text
          |  FROM documents WHERE doc_id < 5),
          |""".stripMargin +
        bm25ScoreCtes("chunks", "chunk_key", "", "b", qtOverride = Some(
          """SELECT DISTINCT qid, lower(tk) AS term
            |  FROM (SELECT qid, unnest(string_split_regex(
            |      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS tk
            |    FROM qsrc)
            |  WHERE length(tk) > 0""".stripMargin)) +
        s""",
          |blex AS (SELECT qid, id AS nid,
          |    ROW_NUMBER() OVER (PARTITION BY qid
          |      ORDER BY score_micro DESC, id) AS rank
          |  FROM bsc),
          |cterm AS (SELECT chunk_key AS id, unnest(string_split_regex(
          |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS term
          |  FROM chunks),
          |qterm AS (SELECT qid AS id, unnest(string_split_regex(
          |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS term
          |  FROM qsrc),
          |cbc AS (SELECT id, CAST($fold % 64 AS BIGINT) AS b,
          |    CAST(count(*) AS DOUBLE) AS x
          |  FROM cterm WHERE length(term) > 0 GROUP BY 1, 2),
          |qbc AS (SELECT id, CAST($fold % 64 AS BIGINT) AS b,
          |    CAST(count(*) AS DOUBLE) AS x
          |  FROM qterm WHERE length(term) > 0 GROUP BY 1, 2),
          |grid AS (SELECT unnest(generate_series(0, 63)) AS b),
          |cvec AS (SELECT g.id, list(coalesce(c.x, 0.0) ORDER BY g.b) AS v
          |  FROM (SELECT id, b FROM (SELECT DISTINCT id FROM cbc), grid) g
          |  LEFT JOIN cbc c ON c.id = g.id AND c.b = g.b GROUP BY g.id),
          |qvec AS (SELECT g.id, list(coalesce(q.x, 0.0) ORDER BY g.b) AS v
          |  FROM (SELECT id, b FROM (SELECT DISTINCT id FROM qbc), grid) g
          |  LEFT JOIN qbc q ON q.id = g.id AND q.b = g.b GROUP BY g.id),
          |signs AS (SELECT plane, CAST(sv AS DOUBLE[]) AS sv
          |  FROM (VALUES ${SimilarityQueries.srpSignRows(16, 64, 42L)}) s(plane, sv)),
          |csig AS (SELECT id,
          |    sum(CASE WHEN list_dot_product(v, sv) >= 0
          |      THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS sig
          |  FROM cvec CROSS JOIN signs GROUP BY id),
          |qsig AS (SELECT id,
          |    sum(CASE WHEN list_dot_product(v, sv) >= 0
          |      THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS sig
          |  FROM qvec CROSS JOIN signs GROUP BY id),
          |bands AS (SELECT unnest(generate_series(0, 3)) AS band),
          |cband AS (SELECT id, band, (sig >> (band * 4)) & 15 AS bucket
          |  FROM csig CROSS JOIN bands),
          |qband AS (SELECT id, band, (sig >> (band * 4)) & 15 AS bucket
          |  FROM qsig CROSS JOIN bands),
          |dcand AS (SELECT DISTINCT q.id AS qid, c.id AS nid
          |  FROM qband q JOIN cband c ON q.band = c.band AND q.bucket = c.bucket
          |  WHERE q.id <> c.id),
          |dpairs AS (SELECT d.qid, d.nid,
          |    list_dot_product(qv.v, cv.v) /
          |      (sqrt(list_dot_product(qv.v, qv.v)) *
          |       sqrt(list_dot_product(cv.v, cv.v))) AS sim
          |  FROM dcand d JOIN qvec qv ON qv.id = d.qid
          |    JOIN cvec cv ON cv.id = d.nid),
          |dlex AS (SELECT qid, nid,
          |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          |  FROM dpairs),
          |con AS (
          |  SELECT qid, nid, CAST(1000000000 // (60 + rank) AS BIGINT) AS w
          |  FROM blex WHERE rank <= 10
          |  UNION ALL
          |  SELECT qid, nid, CAST(1000000000 // (60 + rank) AS BIGINT) AS w
          |  FROM dlex WHERE rank <= 10),
          |fused AS (SELECT qid, nid, CAST(sum(w) AS BIGINT) AS rrf
          |  FROM con GROUP BY 1, 2),
          |rankedf AS (SELECT qid, nid, rrf,
          |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS rank
          |  FROM fused)""".stripMargin
  }

  /** Anchored 64-char window extraction CTEs (`codes` → `pos` →
    * `wins(id, i, h)`) over a corpus CTE — the shared front of every
    * span oracle. */
  private[graft] def spanWindowCtes(corpusCte: String, p: String): String = {
    def fold(slice: String): String =
      s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), $slice),
         |    (h, b) -> (((h & 18446744073709551360) +
         |      CAST(xor(CAST(h & 255 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
         |      * 1099511628211) & 18446744073709551615)""".stripMargin
    s"""${p}codes AS MATERIALIZED (
       |  SELECT id, list_transform(list_filter(string_split(text, ''), c -> c <> ''),
       |    c -> CASE WHEN unicode(c) BETWEEN 0 AND 127 THEN CAST(unicode(c) AS HUGEINT)
       |      ELSE CAST(error('non-ASCII byte in span-removal oracle — JVM kernel folds UTF-8 bytes') AS HUGEINT) END) AS cs
       |  FROM $corpusCte WHERE text IS NOT NULL),
       |${p}pos AS (SELECT id, cs, unnest(generate_series(1, len(cs) - 63)) AS i
       |  FROM ${p}codes WHERE len(cs) >= 64),
       |${p}wins AS MATERIALIZED (
       |  SELECT id, i, ${fold("cs[i:i+63]")} AS h
       |  FROM ${p}pos WHERE ${fold("cs[i:i+3]")} % 16 = 0)""".stripMargin
  }

  private[graft] def spanKeepOneCtes(corpusCte: String, p: String): String =
    spanWindowCtes(corpusCte, p) +
    s""",
       |${p}kp AS (SELECT h, min(id) AS keeper FROM ${p}wins
       |  GROUP BY h HAVING count(DISTINCT id) >= 2),
       |${p}dw AS (SELECT w.id, w.i FROM ${p}wins w
       |  JOIN ${p}kp k ON k.h = w.h AND w.id <> k.keeper)""".stripMargin +
    spanCutTail(corpusCte, p)

  /** Island-merge → gap-segment cut → per-doc stats tail (`mk` …
    * `clean`), reading the dup-window CTE `${p}dw(id, i)` — shared by
    * the keep-one form and the q221 eval-index excision. */
  private[graft] def spanCutTail(corpusCte: String, p: String): String =
    s""",
       |${p}mk AS (SELECT id, i,
       |  CASE WHEN max(i + 64) OVER (PARTITION BY id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |    OR i > max(i + 64) OVER (PARTITION BY id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    THEN 1 ELSE 0 END AS isl0 FROM ${p}dw),
       |${p}isl AS (SELECT id, i, sum(isl0) OVER (PARTITION BY id ORDER BY i
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g FROM ${p}mk),
       |${p}merged AS (SELECT id, g, min(i) AS s, max(i) + 64 AS e
       |  FROM ${p}isl GROUP BY 1, 2),
       |${p}gaps AS (
       |  SELECT id, coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 1) AS gs,
       |    s AS ge FROM ${p}merged
       |  UNION ALL
       |  SELECT id, max(e) AS gs, NULL AS ge FROM ${p}merged GROUP BY id),
       |${p}cl AS (
       |  SELECT g.id, string_agg(
       |    substr(c.text, CAST(g.gs AS INT),
       |      CAST(coalesce(g.ge, length(c.text) + 1) - g.gs AS INT)),
       |    '' ORDER BY g.gs) AS ct
       |  FROM ${p}gaps g JOIN $corpusCte c ON c.id = g.id GROUP BY g.id),
       |${p}stats AS (SELECT id, count(*) AS n_spans, sum(e - s) AS removed
       |  FROM ${p}merged GROUP BY id),
       |${p}clean AS (
       |  SELECT c.id, CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
       |    CAST(coalesce(st.removed, 0) AS BIGINT) AS removed_chars,
       |    coalesce(cl.ct, c.text) AS clean_text
       |  FROM $corpusCte c LEFT JOIN ${p}stats st ON st.id = c.id
       |    LEFT JOIN ${p}cl cl ON cl.id = c.id)""".stripMargin

  /** The seven Gopher rule expressions + pass flags + composite keep,
    * shared by q177 (the full verdict table) and q181 (the funnel's
    * quality stage) — single definition, no drift. All predicates
    * compare UNROUNDED IEEE-identical divisions. */
  private[graft] case class GopherRules(
      nWords: org.apache.spark.sql.Column,
      meanLen: org.apache.spark.sql.Column,
      symRatio: org.apache.spark.sql.Column,
      bulletRatio: org.apache.spark.sql.Column,
      ellRatio: org.apache.spark.sql.Column,
      punctRatio: org.apache.spark.sql.Column,
      alphaRatio: org.apache.spark.sql.Column,
      nStop: org.apache.spark.sql.Column,
      pWords: org.apache.spark.sql.Column,
      pMean: org.apache.spark.sql.Column,
      pSym: org.apache.spark.sql.Column,
      pBullet: org.apache.spark.sql.Column,
      pEll: org.apache.spark.sql.Column,
      pAlpha: org.apache.spark.sql.Column,
      pStop: org.apache.spark.sql.Column,
      keep: org.apache.spark.sql.Column)

  private[graft] def gopherRules(text: org.apache.spark.sql.Column): GopherRules = {
    val toks = TextFunctions.tokens(text)
    val nWords = size(toks).cast("long")
    val meanLen = aggregate(toks, lit(0L),
      (a, t) => a + length(t).cast("long")).cast("double") / nWords
    val nHash = length(text) - length(regexp_replace(text, "#", ""))
    val nEll = size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0)))
    val symRatio = (nHash + nEll).cast("double") / nWords
    val lines = split(text, "\n", -1)
    val nLines = size(lines)
    val bulletRatio = size(filter(lines,
      l => l.like("- %") || l.like("* %"))).cast("double") / nLines
    val ellRatio = size(filter(lines,
      l => l.like("%..."))).cast("double") / nLines
    val punctRatio = size(filter(lines, l => l.like("%.") ||
      l.like("%!") || l.like("%?") || l.like("%\"")))
      .cast("double") / nLines
    val alphaRatio = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast("double") / nWords
    val nStop = TextFunctions.langScore(
      TextFunctions.tokens(lower(text)), "en").cast("long")
    val pWords = nWords >= 10 && nWords <= 100000
    val pMean = meanLen >= 2.0 && meanLen <= 10.0
    val pSym = symRatio <= 0.1
    val pBullet = bulletRatio <= 0.9
    val pEll = ellRatio <= 0.3
    val pAlpha = alphaRatio >= 0.8
    val pStop = nStop >= 2
    GopherRules(nWords, meanLen, symRatio, bulletRatio, ellRatio,
      punctRatio, alphaRatio, nStop, pWords, pMean, pSym, pBullet, pEll,
      pAlpha, pStop,
      pWords && pMean && pSym && pBullet && pEll && pAlpha && pStop)
  }

  /** Shared oracle SQL: the per-doc rule-value CTEs over `$src`
    * (expects (doc_id, text)) and the composite keep predicate over
    * the `vals` CTE's raw columns. */
  private[graft] def gopherValsSql(src: String, p: String = ""): String =
    s"""${p}feat AS (
       |  SELECT doc_id, text,
       |    string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS toks,
       |    string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+') AS ltoks,
       |    string_split(text, chr(10)) AS lines
       |  FROM $src),
       |${p}vals AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS mean_raw,
       |    CAST(length(text) - length(replace(text, '#', ''))
       |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) / len(toks) AS sym_raw,
       |    CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) AS DOUBLE) / len(lines) AS bullet_raw,
       |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE) / len(lines) AS ell_raw,
       |    CAST(len(list_filter(lines, l -> l LIKE '%.' OR l LIKE '%!'
       |      OR l LIKE '%?' OR l LIKE '%\"')) AS DOUBLE) / len(lines) AS punct_raw,
       |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks) AS alpha_raw,
       |    CAST(len(list_filter(ltoks, t -> t IN ('the','and','of','to','a','in','is','that','for','it'))) AS BIGINT) AS n_stop
       |  FROM ${p}feat)""".stripMargin

  private[graft] val gopherKeepSql: String =
    """n_words BETWEEN 10 AND 100000 AND mean_raw BETWEEN 2.0 AND 10.0
      |    AND sym_raw <= 0.1 AND bullet_raw <= 0.9 AND ell_raw <= 0.3
      |    AND alpha_raw >= 0.8 AND n_stop >= 2""".stripMargin

  /** q334/q336's shared fixture: the planted corpus, two CDC waves,
    * and the versioned partitioned artifact built CREATE-ONCE per
    * corpus fingerprint (the folds are deterministic; the operators
    * under test are the versioned reads, which every run pays fresh).
    * `compacted = false`: the fold history as-is (v0 epoch, v1 an
    * insert/update/delete wave, v2 a wave deleting the phrase-marker
    * carriers and re-texting the zxsingular docs). `compacted = true`:
    * a SIBLING root taken through the storage lifecycle — every member
    * compacted to v3 and GC'd (q336 contrasts the two). */
  private def ttArtifact(spark: SparkSession, dir: String,
      compacted: Boolean): graft.operators.IndexArtifact.LexicalLayout = {
    val ia = graft.operators.IndexArtifact
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val phrase = " zq0grafted exact phrase marker"
    val planted = d.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 14 === 0, lit(phrase + phrase))
          .when(col("doc_id") % 7 === 0, lit(phrase)).otherwise(lit("")),
        when(col("doc_id") % 9 === 0, lit(" zxsingular"))
          .otherwise(lit(""))).as("text"))
    val nullS = lit(null).cast("string")
    val b1 = planted.filter(col("doc_id") % 5 === 3)
      .select(lit("U").as("op"), col("doc_id"),
        concat(col("text"), lit(" ttrevision one")).as("text"))
      .unionByName(planted.filter(col("doc_id") % 5 === 4)
        .select(lit("D").as("op"), col("doc_id"), nullS.as("text")))
      .unionByName(planted.filter(col("doc_id") % 5 === 0)
        .select(lit("I").as("op"), (col("doc_id") + 70000L).as("doc_id"),
          concat(col("text"), lit(" ttinsert alpha")).as("text")))
    val b2 = planted.filter(col("doc_id") % 7 === 0 &&
        col("doc_id") % 5 =!= 4)
      .select(lit("D").as("op"), col("doc_id"), nullS.as("text"))
      .unionByName(planted.filter(col("doc_id") % 9 === 0 &&
          col("doc_id") % 7 =!= 0 && col("doc_id") % 5 =!= 4)
        .select(lit("U").as("op"), col("doc_id"),
          concat(col("text"), lit(" ttrevision two")).as("text")))
    val tag = if (compacted) "ttservec" else "ttserve"
    val root =
      s"/tmp/graft-$tag-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
        s"-${Tables.fingerprint(planted, "doc_id", s"$dir/documents_tt")}"
    val lay = ia.LexicalLayout(s"$root/idx", docParts = 8,
      termParts = 8, withPositional = true)
    if (!new java.io.File(s"$root/_DONE").exists()) {
      graft.operators.OperatorCaches.scoped {
        ia.writeLexicalFull(lay, planted, "doc_id", "text", version = 0)
        ia.applyCdcLexical(lay, b1, "doc_id", "text", "op", 0, 1)
        ia.applyCdcLexical(lay, b2, "doc_id", "text", "op", 1, 2)
      }
      if (compacted) {
        val members =
          Seq(lay.tf, lay.dl, lay.df, lay.totals, lay.pos)
        members.foreach(m => ia.compact(spark, lay.root, m, 2, 3))
        members.foreach(m => ia.gcBelow(spark, lay.root, m, 3))
      }
      new java.io.FileOutputStream(s"$root/_DONE").close()
    }
    lay
  }

  /** q324's oracle — percolation of the planted corpus against the NET
    * alert sets (bool: odd qids < 20 with 6-token musts + the %3
    * mustNot; phrase: even doc_ids < 25 with len ≥ 5 + the literal
    * marker alert 95000). Shared verbatim by q333: its alert-CDC
    * STREAM is constructed to net out to exactly these sets (epoch
    * registers wrong/partial forms, the stream updates/deletes/inserts
    * them into shape), so one oracle proves streaming fold == batch
    * CRUD == net-set recompute. */
  private val q324NetPercolationSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text || CASE WHEN doc_id % 14 = 0
      |    THEN ' zq0grafted exact phrase marker zq0grafted exact phrase marker'
      |    WHEN doc_id % 7 = 0
      |    THEN ' zq0grafted exact phrase marker' ELSE '' END
      |    || CASE WHEN doc_id % 20 = 0 THEN ' qnotone' ELSE '' END
      |    AS text
      |  FROM documents),
      |${posCtes("tw", "corpus")},
      |dt AS (SELECT DISTINCT doc_id AS id, term FROM pos),
      |qm AS (${prefixQueryTerms(90000, 6, "doc_id < 20 AND doc_id % 2 = 1")}),
      |qn AS (SELECT doc_id + 90000 AS qid, 'qnotone' AS term
      |  FROM documents
      |  WHERE doc_id < 20 AND doc_id % 3 = 0 AND doc_id % 2 = 1),
      |nm AS (SELECT qid, CAST(count(*) AS BIGINT) AS n FROM qm
      |  GROUP BY 1),
      |bhits AS (SELECT d.id, m.qid, CAST(count(*) AS BIGINT) AS c
      |  FROM dt d JOIN qm m USING (term) GROUP BY 1, 2),
      |bmatch AS (SELECT h.id, h.qid FROM bhits h
      |  JOIN nm ON nm.qid = h.qid
      |  WHERE h.c = nm.n
      |    AND NOT EXISTS (SELECT 1 FROM qn n JOIN dt d2
      |      ON d2.id = h.id AND d2.term = n.term
      |      WHERE n.qid = h.qid)),
      |qtw AS (SELECT doc_id, string_split_regex(
      |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS w
      |  FROM documents WHERE doc_id < 25 AND doc_id % 2 = 0),
      |qx AS (SELECT doc_id + 96000 AS qid, CAST(i - 3 AS BIGINT) AS off,
      |    w[i] AS term
      |  FROM (SELECT doc_id, w, unnest(generate_series(3, 5)) AS i
      |        FROM qtw WHERE len(w) >= 5)
      |  WHERE length(w[i]) > 0
      |  UNION ALL
      |  SELECT 95000, CAST(off AS BIGINT), term
      |  FROM (VALUES (0, 'zq0grafted'), (1, 'exact'), (2, 'phrase'),
      |    (3, 'marker')) v(off, term)),
      |an AS (SELECT p.doc_id AS id, q.qid, p.pos - q.off AS a,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM pos p JOIN qx q ON q.term = p.term GROUP BY 1, 2, 3),
      |pqn AS (SELECT qid, CAST(count(*) AS BIGINT) AS n FROM qx
      |  GROUP BY 1),
      |pmatch AS (SELECT a.id, a.qid,
      |    CAST(count(*) AS BIGINT) AS n_occurrences
      |  FROM an a JOIN pqn ON pqn.qid = a.qid WHERE a.c = pqn.n
      |  GROUP BY 1, 2)
      |SELECT 'bool' AS leg, id, qid, CAST(1 AS BIGINT) AS val
      |FROM bmatch
      |UNION ALL
      |SELECT 'phrase', id, qid, n_occurrences FROM pmatch""".stripMargin

  val all: Seq[Q] = Seq(
    // Exact dedup by content hash (sha256): one shuffle on the digest,
    // min(doc_id) is the canonical keeper.
    Q("q30_dedup_exact",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        Dedup.exact(d, "doc_id", "text")
      },
      Some("""SELECT sha256(text) AS content_hash, COUNT(*) AS n_copies,
             |CAST(MIN(doc_id) AS BIGINT) AS keeper_id
             |FROM documents GROUP BY sha256(text)""".stripMargin)),

    // Token/char statistics — the quality-scoring feature set.
    Q("q31_text_stats",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val feats = TextFunctions.qualityFeatures(col("text"))
        d.select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
          .filter(col("doc_id") % 5 === 0)
      },
      Some("""SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
             |CAST(len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS INT) AS n_tokens,
             |ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             |  / length(text), 6) AS alpha_ratio,
             |ROUND(CAST(length(text) - (len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) - 1) AS DOUBLE)
             |  / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')), 6) AS avg_token_len,
             |ROUND(CAST(len(list_filter(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
             |    t -> t IN ('the','and','of','to','a','in','is','that','for','it'))) AS DOUBLE)
             |  / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')), 6) AS stopword_ratio
             |FROM documents WHERE doc_id % 5 = 0""".stripMargin)),

    // Language-ID (stopword-marker argmax) vs the labeled lang column.
    Q("q32_lang_id",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        d.select(col("lang").as("labeled"),
            TextFunctions.langId(col("text")).as("predicted"))
          .groupBy(col("labeled"), col("predicted"))
          .agg(count(lit(1)).as("n"))
      },
      Some {
        val score = (l: String) => {
          val markers = TextFunctions.langMarkers(l).map(m => s"'$m'").mkString(",")
          s"lpad(CAST(len(list_filter(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'), t -> t IN ($markers))) AS VARCHAR), 5, '0') || '$l'"
        }
        val langs = TextFunctions.langMarkers.keys.toSeq.sorted
        s"""WITH scored AS (SELECT lang AS labeled,
           |  list_max([${langs.map(score).mkString(",\n  ")}]) AS best
           |  FROM documents)
           |SELECT labeled,
           |  CASE WHEN best[1:5] = '00000' THEN 'und' ELSE best[6:7] END AS predicted,
           |  COUNT(*) AS n
           |FROM scored GROUP BY 1, 2""".stripMargin
      }),

    // BPE-ish lexer token counting (word runs | single punctuation).
    Q("q33_lex_tokens",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        d.groupBy(col("source"))
          .agg(sum(size(TextFunctions.lexTokens(col("text")))).as("total_lex_tokens"),
            sum(size(TextFunctions.tokens(col("text")))).as("total_ws_tokens"),
            count(lit(1)).as("n_docs"))
      },
      Some("""SELECT source,
             |CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS total_lex_tokens,
             |CAST(SUM(len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))) AS BIGINT) AS total_ws_tokens,
             |COUNT(*) AS n_docs
             |FROM documents GROUP BY source""".stripMargin)),

    // Word-shingle construction parity (the MinHash input representation).
    Q("q34_shingles",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        d.select(col("doc_id"),
            size(TextFunctions.wordShingles(col("text"), 3)).as("n_shingles"),
            size(array_distinct(TextFunctions.wordShingles(col("text"), 3)))
              .as("n_distinct_shingles"))
          .filter(col("doc_id") < 100)
      },
      Some("""WITH sh AS (SELECT doc_id,
             |  list_transform(range(1, len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) - 3 + 2),
             |    i -> array_to_string((string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))[i:i+2], ' ')) AS shingles
             |  FROM documents WHERE doc_id < 100)
             |SELECT doc_id, CAST(len(shingles) AS INT) AS n_shingles,
             |  CAST(len(list_distinct(shingles)) AS INT) AS n_distinct_shingles
             |FROM sh""".stripMargin)),

    // Exact n-gram Jaccard over a bounded candidate set (verification
    // stage): all pairs among doc_id < 40.
    Q("q35_ngram_jaccard",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents").filter(col("doc_id") < 40)
        val pairs = d.select(col("doc_id").as("idA"))
          .crossJoin(d.select(col("doc_id").as("idB")))
          .filter(col("idA") < col("idB"))
        Dedup.ngramJaccard(pairs, d, "doc_id", "text", 3)
          .groupBy((col("idA") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            round(sum(col("jaccard")), 4).as("jaccard_sum"),
            round(max(col("jaccard")), 6).as("jaccard_max"))
      },
      Some("""WITH sh AS (SELECT doc_id,
             |  list_distinct(list_transform(range(1, len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) - 3 + 2),
             |    i -> array_to_string((string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))[i:i+2], ' '))) AS s
             |  FROM documents WHERE doc_id < 40),
             |pairs AS (
             |  SELECT a.doc_id AS idA, b.doc_id AS idB,
             |    ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |      / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
             |SELECT CAST(idA % 10 AS BIGINT) AS bucket, COUNT(*) AS n_pairs,
             |  ROUND(SUM(jaccard), 4) AS jaccard_sum, ROUND(MAX(jaccard), 6) AS jaccard_max
             |FROM pairs GROUP BY 1""".stripMargin)),

    // MinHash+LSH near-dup candidates on the doubled corpus: every
    // original↔copy pair must collide with est_jaccard 1.0.
    // Oracled: the signature kernel is pure integer arithmetic, so DuckDB
    // replays it exactly — fnv1a64 per 3-word shingle (HUGEINT fold, as
    // q37/q38), then sig[h] = min over shingles of mix64(base ^ mix64(h))
    // with the 128 mix64(h) seeds embedded as literals GENERATED FROM THE
    // SAME Scala kernel (no drift possible), 64×64-bit multiplies done as
    // split 32-bit halves mod 2^64 (a full HUGEINT product overflows
    // INT128), mins taken over the SIGNED view to match Long comparison.
    // Banding joins on 4-signature-slice equality — Spark buckets by
    // hash(band, slice), so the oracle's candidate set differs only if
    // Murmur3 collides across distinct slices (verified: none at either
    // test SF; the static test data makes this check deterministic).
    Q("q36_minhash_lsh",
      (spark, dir) => {
        Dedup.minhashLshPairs(doubled(spark, dir), "doc_id", "text")
          .groupBy((col("est_jaccard") >= 0.99).as("is_exact_dup"))
          .agg(count(lit(1)).as("n_pairs"),
            round(avg(col("est_jaccard")), 4).as("avg_est_jaccard"))
      },
      Some(q36Oracle)),

    // Incremental LSH dedup (Dedup.incrementalLshMatches): the daily-
    // ingest shape — a new batch's band rows join the EXISTING corpus's
    // band table (computed once per epoch; bucketize it on (band,
    // bucket) in production and the corpus side never shuffles again).
    // Incoming = exact copies of the %3==0 docs (must match) + %3==1
    // docs with appended tokens (most shingles unchanged — banding
    // decides deterministically) ; per-incoming verdicts under the
    // gate, zero matches = new.
    Q("q152_incremental_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        Dedup.incrementalLshMatches(d, incomingBatch(d), "doc_id", "text")
      },
      Some(incrementalDedupOracle)),

    // STREAMING incremental dedup: the same verdicts, but the incoming
    // batch arrives as a file STREAM and its band rows join the STATIC
    // existing-corpus band table (the stream-static join family) before
    // one Complete-mode aggregation. countDistinct is unsupported in
    // streaming, so the distinct-existing count is size(collect_set) —
    // ONE stateful operator; per-key state is the incoming doc's
    // candidate set (bounded by its near-dup degree; a heavy-hitter
    // corpus would move this to flatMapGroupsWithState with a capped
    // set). Same oracle text as q152 BY DESIGN: streaming is a physical
    // path, the verdicts must be identical (the q138/q130 re-layout
    // rule).
    Q("q156_streaming_incremental_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val incoming = incomingBatch(d)
        val inDir = s"/tmp/graft-incdedup-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(incoming, "doc_id", s"$dir/documents_incdedup")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists()) {
          incoming.write.mode("overwrite").parquet(inDir)
        }
        val exBands = Dedup.bandTable(d, "doc_id", "text")
          .select(col("band"), col("bucket"), col("id").as("ex_id"))
        val matches = graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => Dedup.bandTable(stream, "doc_id", "text")
            .select(col("band"), col("bucket"), col("id").as("in_id"))
            .join(exBands, Seq("band", "bucket")) // stream-static join
            .groupBy(col("in_id"))
            .agg(size(collect_set(col("ex_id"))).cast("long").as("n_matches")),
          org.apache.spark.sql.streaming.OutputMode.Complete,
          s"q156_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
        incoming.select(col("doc_id").as("in_id"))
          .join(matches, Seq("in_id"), "left")
          .select(col("in_id"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      },
      Some(incrementalDedupOracle)),

    // Incremental LSH dedup under a HOT-BUCKET CAP (maxBucket = 4) —
    // the guard that keeps LSH sub-quadratic on adversarial data: the
    // incoming batch carries FIVE extra copies of doc 0 (a crawler
    // re-fetching one page), so every one of doc 0's band buckets holds
    // 7 members (0, its +10000 copy, the five 40000s) and is skipped
    // entirely; its copies correctly report 0 LSH matches (the
    // documented trade — exact-hash dedup still catches them), while
    // all cold buckets behave exactly as q152. The oracle replays the
    // bucket histogram and the cap itself.
    Q("q169_capped_incremental_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val hotCopies = d.filter(col("doc_id") === 0)
          .select(explode(sequence(lit(0L), lit(4L))).as("g"), col("text"))
          .select((lit(40000L) + col("g")).as("doc_id"), col("text"))
        Dedup.incrementalLshMatchesCapped(d,
          incomingBatch(d).unionByName(hotCopies), "doc_id", "text",
          maxBucket = 4)
      },
      Some(lshBandCtes(
        """SELECT doc_id AS id, text FROM documents
           |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 = 0
           |  UNION ALL SELECT doc_id + 20000, text || ' graft incremental probe words'
           |    FROM documents WHERE doc_id % 3 = 1
           |  UNION ALL SELECT 40000 + g, text FROM documents, generate_series(0, 4) s(g)
           |    WHERE doc_id = 0""".stripMargin) +
        """,
           |bsizes AS (SELECT band, key, count(*) AS n FROM banded GROUP BY 1, 2),
           |cold AS (
           |  SELECT b.id, b.band, b.key
           |  FROM banded b JOIN bsizes s ON s.band = b.band AND s.key = b.key
           |  WHERE s.n <= 4),
           |matches AS (
           |  SELECT b.id AS in_id, count(DISTINCT a.id) AS n_matches
           |  FROM cold a JOIN cold b ON a.band = b.band AND a.key = b.key
           |  WHERE a.id < 10000 AND b.id >= 10000 GROUP BY 1),
           |inc AS (
           |  SELECT doc_id + 10000 AS in_id FROM documents WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT doc_id + 20000 FROM documents WHERE doc_id % 3 = 1
           |  UNION ALL
           |  SELECT 40000 + g FROM documents, generate_series(0, 4) s(g)
           |    WHERE doc_id = 0)
           |SELECT i.in_id, CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches
           |FROM inc i LEFT JOIN matches m ON m.in_id = i.in_id""".stripMargin)),

    // Substring-level duplication (Lee et al. 2022's exact-substring
    // dedup, alignment-free windowed form): content-defined anchors
    // (fnv of a 4-char gate ≡ 0 mod 16) place 64-char windows at the
    // same RELATIVE positions in any two copies of a span regardless of
    // offset; cross-doc hash equality marks the duplicated substrings.
    // Corpus plants the three regimes: %4==0 docs get a full copy
    // (dup_frac 1.0 both sides), %4==1 docs get their FIRST HALF as a
    // new doc (partial duplication — the original's early windows dup,
    // its late ones don't), the rest show only natural repeats. Oracle
    // replays per-position gate folds and per-anchor window folds over
    // a per-doc char-code list.
    Q("q172_substring_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = d
          .unionByName(d.filter(col("doc_id") % 4 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
          .unionByName(d.filter(col("doc_id") % 4 === 1)
            .select((col("doc_id") + 20000L).as("doc_id"),
              substring(col("text"), lit(1), (length(col("text")) / 2)
                .cast("int")).as("text")))
        Dedup.duplicatedSubstrings(corpus, "doc_id", "text")
      },
      Some {
        def fold(slice: String): String =
          s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), $slice),
             |    (h, b) -> (((h & 18446744073709551360) +
             |      CAST(xor(CAST(h & 255 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
             |      * 1099511628211) & 18446744073709551615)""".stripMargin
        s"""WITH corpus AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 4 = 0
           |  UNION ALL SELECT doc_id + 20000, substr(text, 1, length(text) // 2)
           |    FROM documents WHERE doc_id % 4 = 1),
           |codes AS MATERIALIZED (
           |  SELECT id, list_transform(list_filter(string_split(text, ''), c -> c <> ''),
           |    c -> CASE WHEN unicode(c) BETWEEN 0 AND 127 THEN CAST(unicode(c) AS HUGEINT)
           |      ELSE CAST(error('non-ASCII byte in q172 oracle — JVM kernel folds UTF-8 bytes') AS HUGEINT) END) AS cs
           |  FROM corpus WHERE text IS NOT NULL),
           |pos AS (SELECT id, cs, unnest(generate_series(1, len(cs) - 63)) AS i
           |  FROM codes WHERE len(cs) >= 64),
           |wins AS MATERIALIZED (
           |  SELECT id, ${fold("cs[i:i+63]")} AS h
           |  FROM pos WHERE ${fold("cs[i:i+3]")} % 16 = 0),
           |duph AS (SELECT h FROM (
           |  SELECT h, count(DISTINCT id) AS nd FROM wins GROUP BY h) WHERE nd >= 2),
           |nw AS (SELECT id, count(*) AS n_windows FROM wins GROUP BY id),
           |ndp AS (SELECT id, count(*) AS n_dup FROM wins
           |  WHERE h IN (SELECT h FROM duph) GROUP BY id)
           |SELECT c.id, CAST(coalesce(nw.n_windows, 0) AS BIGINT) AS n_windows,
           |  CAST(coalesce(ndp.n_dup, 0) AS BIGINT) AS n_dup_windows,
           |  round(CASE WHEN coalesce(nw.n_windows, 0) = 0 THEN 0.0
           |    ELSE CAST(coalesce(ndp.n_dup, 0) AS DOUBLE) / nw.n_windows END, 6) AS dup_frac
           |FROM corpus c LEFT JOIN nw ON nw.id = c.id LEFT JOIN ndp ON ndp.id = c.id""".stripMargin
      }),

    // INCREMENTAL substring dedup (q172's daily-batch form — the
    // crawl-ingest gatekeeper "how much of this new doc is copied from
    // the corpus", completing the incremental family across all three
    // dedup modalities: literal LSH q152, semantic q170, substring
    // here). Incoming plants three regimes: exact copies (+10000,
    // frac 1), first-half + a novel slogan (+20000, frac strictly
    // between — windows inside the half dup, windows reaching the
    // slogan don't), reversed text (+30000, frac ≈ 0). The batch probes
    // the corpus's distinct-window index; the corpus is never
    // re-hashed per batch.
    Q("q174_incremental_substring_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val slogan = " entirely novel appended content the corpus has never seen"
        val incoming = d.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
          .unionByName(d.filter(col("doc_id") % 4 === 1)
            .select((col("doc_id") + 20000L).as("doc_id"),
              concat(substring(col("text"), lit(1),
                (length(col("text")) / 2).cast("int")), lit(slogan))
                .as("text")))
          .unionByName(d.filter(col("doc_id") % 4 === 2)
            .select((col("doc_id") + 30000L).as("doc_id"),
              reverse(col("text")).as("text")))
        Dedup.incrementalDuplicatedSubstrings(
          Dedup.substringIndex(d, "doc_id", "text"), incoming,
          "doc_id", "text")
      },
      Some(incrementalSubstringOracle)),

    // Substring span REMOVAL (the second half of Lee et al. 2022 —
    // q172 detects, this excises): corpus-duplicated anchored windows
    // become char spans, touching/overlapping spans merge per doc
    // (gaps-and-islands), and the cleaned text is the concatenation of
    // the complement segments. Same planted corpus as q172, so full
    // copies lose (nearly) everything anchored, half-copies lose their
    // duplicated first half but keep the unique tail, and naturally
    // unique docs pass through byte-identical. The oracle replays the
    // whole chain — gate folds, window folds, duplicated-hash set,
    // island merge, and the substring cut — and compares the CLEANED
    // TEXT itself, not just counts.
    Q("q175_substring_span_removal",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = d
          .unionByName(d.filter(col("doc_id") % 4 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
          .unionByName(d.filter(col("doc_id") % 4 === 1)
            .select((col("doc_id") + 20000L).as("doc_id"),
              substring(col("text"), lit(1), (length(col("text")) / 2)
                .cast("int")).as("text")))
        Dedup.removeDuplicatedSpans(corpus, "doc_id", "text")
      },
      Some {
        def fold(slice: String): String =
          s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), $slice),
             |    (h, b) -> (((h & 18446744073709551360) +
             |      CAST(xor(CAST(h & 255 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
             |      * 1099511628211) & 18446744073709551615)""".stripMargin
        // 1-based char positions: span i covers chars [i, i+64); Spark's
        // 0-based [pos, pos+64) is the same char set (pos = i-1). The
        // island test i > max_prev(i'+64) == Spark's pos > prev_end.
        s"""WITH corpus AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 4 = 0
           |  UNION ALL SELECT doc_id + 20000, substr(text, 1, length(text) // 2)
           |    FROM documents WHERE doc_id % 4 = 1),
           |codes AS MATERIALIZED (
           |  SELECT id, list_transform(list_filter(string_split(text, ''), c -> c <> ''),
           |    c -> CASE WHEN unicode(c) BETWEEN 0 AND 127 THEN CAST(unicode(c) AS HUGEINT)
           |      ELSE CAST(error('non-ASCII byte in q175 oracle — JVM kernel folds UTF-8 bytes') AS HUGEINT) END) AS cs
           |  FROM corpus WHERE text IS NOT NULL),
           |pos AS (SELECT id, cs, unnest(generate_series(1, len(cs) - 63)) AS i
           |  FROM codes WHERE len(cs) >= 64),
           |wins AS MATERIALIZED (
           |  SELECT id, i, ${fold("cs[i:i+63]")} AS h
           |  FROM pos WHERE ${fold("cs[i:i+3]")} % 16 = 0),
           |duph AS (SELECT h FROM (
           |  SELECT h, count(DISTINCT id) AS nd FROM wins GROUP BY h) WHERE nd >= 2),
           |dw AS (SELECT id, i FROM wins WHERE h IN (SELECT h FROM duph)),
           |mk AS (SELECT id, i,
           |  CASE WHEN max(i + 64) OVER (PARTITION BY id ORDER BY i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           |    OR i > max(i + 64) OVER (PARTITION BY id ORDER BY i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |    THEN 1 ELSE 0 END AS isl0 FROM dw),
           |isl AS (SELECT id, i, sum(isl0) OVER (PARTITION BY id ORDER BY i
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g FROM mk),
           |merged AS (SELECT id, g, min(i) AS s, max(i) + 64 AS e
           |  FROM isl GROUP BY 1, 2),
           |gaps AS (
           |  SELECT id, coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 1) AS gs,
           |    s AS ge FROM merged
           |  UNION ALL
           |  SELECT id, max(e) AS gs, NULL AS ge FROM merged GROUP BY id),
           |cleaned AS (
           |  SELECT g.id, string_agg(
           |    substr(c.text, CAST(g.gs AS INT),
           |      CAST(coalesce(g.ge, length(c.text) + 1) - g.gs AS INT)),
           |    '' ORDER BY g.gs) AS ct
           |  FROM gaps g JOIN corpus c ON c.id = g.id GROUP BY g.id),
           |stats AS (SELECT id, count(*) AS n_spans, sum(e - s) AS removed
           |  FROM merged GROUP BY id)
           |SELECT c.id, CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
           |  CAST(coalesce(st.removed, 0) AS BIGINT) AS removed_chars,
           |  CAST(coalesce(length(coalesce(cl.ct, c.text)), 0) AS BIGINT) AS clean_len,
           |  coalesce(cl.ct, c.text) AS clean_text
           |FROM corpus c LEFT JOIN stats st ON st.id = c.id
           |  LEFT JOIN cleaned cl ON cl.id = c.id""".stripMargin
      }),

    // KEEP-ONE substring span removal (q175's production policy — Lee
    // et al. 2022 keeps one occurrence of every duplicated substring):
    // the lowest-id doc carrying a duplicated window keeps it, chosen
    // PER HASH, so exactly one copy of each duplicated substring
    // survives the corpus. On the planted q172 corpus that means the
    // base %4==0 docs keep their text while their +10000 copies are
    // gutted, and the %4==1 docs keep their first halves while the
    // +20000 half-docs lose everything anchored — asymmetry the
    // remove-all form (q175) cannot produce, and exactly what the gate
    // hashes. Oracle = q175's replay with a min(id)-keeper exemption
    // joined into the span table.
    Q("q182_span_removal_keep_one",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = d
          .unionByName(d.filter(col("doc_id") % 4 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
          .unionByName(d.filter(col("doc_id") % 4 === 1)
            .select((col("doc_id") + 20000L).as("doc_id"),
              substring(col("text"), lit(1), (length(col("text")) / 2)
                .cast("int")).as("text")))
        Dedup.removeDuplicatedSpansKeepOne(corpus, "doc_id", "text")
      },
      Some {
        s"""WITH corpus AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 4 = 0
           |  UNION ALL SELECT doc_id + 20000, substr(text, 1, length(text) // 2)
           |    FROM documents WHERE doc_id % 4 = 1),
           |${spanKeepOneCtes("corpus", "")}
           |SELECT id, n_spans, removed_chars,
           |  CAST(coalesce(length(clean_text), 0) AS BIGINT) AS clean_len,
           |  clean_text
           |FROM clean""".stripMargin
      }),

    // STREAMING substring dedup — q174's stream twin, completing the
    // 3×3 dedup matrix (literal LSH q152/q156, semantic q162/q170,
    // substring q174/here): the incoming batch arrives as a file
    // stream, window hashing is STATELESS (one codegen'd kernel per
    // doc, no state store), the epoch's substringIndex is the static
    // side of a stream-static left join (dup marker), and ONE
    // Complete-mode aggregation yields per-doc window/dup counts.
    // Same planted regimes and same oracle as q174 by construction —
    // the streaming query's correctness claim IS batch-equality.
    // 100 TB shape: the only state is the running per-doc counts; the
    // corpus index is a broadcast-or-shuffled static join, never
    // re-hashed per batch.
    Q("q178_streaming_substring_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val slogan = " entirely novel appended content the corpus has never seen"
        val incoming = d.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
          .unionByName(d.filter(col("doc_id") % 4 === 1)
            .select((col("doc_id") + 20000L).as("doc_id"),
              concat(substring(col("text"), lit(1),
                (length(col("text")) / 2).cast("int")), lit(slogan))
                .as("text")))
          .unionByName(d.filter(col("doc_id") % 4 === 2)
            .select((col("doc_id") + 30000L).as("doc_id"),
              reverse(col("text")).as("text")))
        // fixture keyed off the INCOMING frame's own fingerprint (not
        // the base table's): a change to the derivation above changes
        // the key, so a stale fixture can never be silently reused
        val inDir = s"/tmp/graft-substream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(incoming, "doc_id", s"$dir/documents_substream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          incoming.write.mode("overwrite").parquet(inDir)
        val index = Dedup.substringIndex(d, "doc_id", "text")
          .localCheckpoint(true) // static side, computed once
        val counts = graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => stream.select(col("doc_id").as("in_id"),
              explode(TextFunctions.anchoredWindowHashesCol(
                col("text"), 64, 4, 16)).as("h"))
            .join(index.withColumn("dup", lit(1L)), Seq("h"), "left")
            .groupBy(col("in_id"))
            .agg(count(lit(1)).as("n_windows"),
              sum(coalesce(col("dup"), lit(0L))).as("n_dup_windows")),
          org.apache.spark.sql.streaming.OutputMode.Complete,
          s"q178_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
        incoming.select(col("doc_id").as("in_id"))
          .join(counts, Seq("in_id"), "left")
          .select(col("in_id"),
            coalesce(col("n_windows"), lit(0L)).as("n_windows"),
            coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
          .withColumn("dup_frac", when(col("n_windows") === 0, lit(0.0))
            .otherwise(round(col("n_dup_windows").cast("double")
              / col("n_windows"), 6)))
      },
      Some(incrementalSubstringOracle)),

    // EXACT substring dedup — the modulo=1 all-positions form of q172
    // (Lee et al.'s exact semantics: EVERY duplicated window-length
    // substring is caught, no anchor-sampling recall term; q172's
    // anchored form trades that for 1/modulo cost, this query gates
    // the exact end of the dial on a %5 subset at window 32). A
    // 40-char span is planted mid-doc at a DIFFERENT offset in a +40000
    // partner — shorter than 64 and offset-shifted, so q172's 64-char
    // anchored windows could only probabilistically see it, while the
    // exact 32-char form must catch every one of its 9 fully-internal
    // duplicated windows (40 − 32 + 1). The modulo=1 kernel hashes with
    // the ROLLING polynomial (O(len), TextFunctions.PolyBase) — the
    // oracle replays the same polynomial fold at every position (no
    // gate filter); TextFunctionsSpec pins rolling == direct fold.
    Q("q184_exact_substring_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
        val span = "exact duplicated forty char span here!!!"
        val corpus = d
          .unionByName(d.filter(col("doc_id") % 2 === 0)
            .select((col("doc_id") + 40000L).as("doc_id"),
              concat(substring(col("text"), lit(1), lit(25)), lit(span),
                substring(col("text"), lit(26), length(col("text"))))
                .as("text")))
          .unionByName(d.filter(col("doc_id") % 2 === 1)
            .select((col("doc_id") + 50000L).as("doc_id"),
              concat(lit("lead-in text then "), lit(span),
                lit(" and an unrelated tail follows")).as("text")))
        Dedup.duplicatedSubstrings(corpus, "doc_id", "text",
          window = 32, gate = 4, modulo = 1)
      },
      Some {
        // the rollable polynomial (h·B + b) mod 2^64, B = fnv prime —
        // NOT the fnv1a fold: the modulo=1 kernel rolls (see
        // TextFunctions.PolyBase); product < 2^105 fits HUGEINT directly
        def fold(slice: String): String =
          s"""list_reduce(list_prepend(CAST(0 AS HUGEINT), $slice),
             |    (h, b) -> (h * 1099511628211 + b) & 18446744073709551615)""".stripMargin
        val span = "exact duplicated forty char span here!!!"
        s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
           |corpus AS (
           |  SELECT doc_id AS id, text FROM base
           |  UNION ALL SELECT doc_id + 40000,
           |    substr(text, 1, 25) || '$span' || substr(text, 26, length(text))
           |    FROM base WHERE doc_id % 2 = 0
           |  UNION ALL SELECT doc_id + 50000,
           |    'lead-in text then ' || '$span' || ' and an unrelated tail follows'
           |    FROM base WHERE doc_id % 2 = 1),
           |codes AS MATERIALIZED (
           |  SELECT id, list_transform(list_filter(string_split(text, ''), c -> c <> ''),
           |    c -> CASE WHEN unicode(c) BETWEEN 0 AND 127 THEN CAST(unicode(c) AS HUGEINT)
           |      ELSE CAST(error('non-ASCII byte in q184 oracle') AS HUGEINT) END) AS cs
           |  FROM corpus WHERE text IS NOT NULL),
           |pos AS (SELECT id, cs, unnest(generate_series(1, len(cs) - 31)) AS i
           |  FROM codes WHERE len(cs) >= 32),
           |wins AS MATERIALIZED (
           |  SELECT id, ${fold("cs[i:i+31]")} AS h FROM pos),
           |duph AS (SELECT h FROM (
           |  SELECT h, count(DISTINCT id) AS nd FROM wins GROUP BY h) WHERE nd >= 2),
           |nw AS (SELECT id, count(*) AS n_windows FROM wins GROUP BY id),
           |ndp AS (SELECT id, count(*) AS n_dup FROM wins
           |  WHERE h IN (SELECT h FROM duph) GROUP BY id)
           |SELECT c.id, CAST(coalesce(nw.n_windows, 0) AS BIGINT) AS n_windows,
           |  CAST(coalesce(ndp.n_dup, 0) AS BIGINT) AS n_dup_windows,
           |  round(CASE WHEN coalesce(nw.n_windows, 0) = 0 THEN 0.0
           |    ELSE CAST(coalesce(ndp.n_dup, 0) AS DOUBLE) / nw.n_windows END, 6) AS dup_frac
           |FROM corpus c LEFT JOIN nw ON nw.id = c.id LEFT JOIN ndp ON ndp.id = c.id""".stripMargin
      }),

    // SimHash near-dup candidates (Hamming ≤ 3) on the doubled corpus.
    // Oracled: simhash is pure integer arithmetic — DuckDB replays
    // fnv1a64 per token (HUGEINT fold mod 2^64; corpus is ASCII so
    // unicode(char) = the UTF-8 byte), the per-bit majority vote, the
    // 16-bit pigeonhole blocking, and bit_count(xor) verification.
    Q("q37_simhash",
      (spark, dir) => {
        Dedup.simhashPairs(doubled(spark, dir), "doc_id", "text")
          .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id AS id, text FROM documents
             |  UNION ALL SELECT doc_id + 10000, text FROM documents),
             |toks AS (
             |  SELECT id, unnest(regexp_split_to_array(
             |    regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')) AS tok
             |  FROM corpus),
             |hashes AS (
             |  SELECT id,
             |    list_reduce(
             |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
             |        list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS HUGEINT))),
             |      (h, b) -> (((h & 18446744073709551360) +
             |        CAST(xor(CAST(h & 255 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
             |        * 1099511628211) & 18446744073709551615) AS h
             |  FROM toks),
             |votes AS (
             |  SELECT id, bit,
             |    sum(CASE WHEN (h >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS vote
             |  FROM hashes CROSS JOIN generate_series(0, 63) g(bit)
             |  GROUP BY id, bit),
             |fps AS (
             |  SELECT id, sum(CASE WHEN vote > 0
             |    THEN CAST(1 AS HUGEINT) << bit ELSE CAST(0 AS HUGEINT) END) AS fpu
             |  FROM votes GROUP BY id),
             |signed AS (
             |  SELECT id, CAST(CASE WHEN fpu >= CAST(9223372036854775808 AS HUGEINT)
             |    THEN fpu - 18446744073709551616 ELSE fpu END AS BIGINT) AS fp
             |  FROM fps),
             |blocked AS (
             |  SELECT id, fp, block, (fp >> (block * 16)) & 65535 AS bv
             |  FROM signed CROSS JOIN generate_series(0, 3) g(block)),
             |pairs AS (
             |  SELECT DISTINCT a.id AS idA, b.id AS idB,
             |    bit_count(xor(a.fp, b.fp)) AS hamming
             |  FROM blocked a JOIN blocked b ON a.block = b.block AND a.bv = b.bv
             |  WHERE a.id < b.id)
             |SELECT CAST(hamming AS INT) AS hamming, count(*) AS n_pairs
             |FROM pairs WHERE hamming <= 3 GROUP BY hamming""".stripMargin)),

    // The full dedup ladder end-to-end: exact-hash collapse → MinHash-LSH
    // candidates → exact-Jaccard verify → keep-smallest-id survivors.
    Q("q39_dedup_pipeline",
      (spark, dir) => {
        val kept = Dedup.dedupeCorpus(doubled(spark, dir), "doc_id", "text")
        kept.agg(count(lit(1)).as("n_kept"),
          sum(when(col("doc_id") < 10000L, 1L).otherwise(0L)).as("n_originals"),
          sum(when(col("doc_id") >= 10000L, 1L).otherwise(0L)).as("n_copies"))
      },
      Some(q39Oracle)),

    // TF-IDF sparse cosine top-3 via the inverted-index (posting-list)
    // join — no dense vectors, docs pair only through shared terms.
    // Stop-term cutoff at df > 50%: the synthetic corpus has a ~30-word
    // vocabulary where nearly every term is in most docs, so the unpruned
    // posting join is ~450M pairs at sf0.1; the oracle applies the SAME
    // cutoff.
    Q("q76_tfidf_topk",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        TfIdf.topK(TfIdf.weights(d, "doc_id", "text"), 3, maxDfRatio = 0.5)
          .filter(col("qid") < 30)
          .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"),
            col("rank"))
      },
      Some(s"""WITH terms AS (
             |  SELECT doc_id AS id,
             |    unnest(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS term
             |  FROM documents),
             |${OracleFragments.tfidfCosineCtes("documents")},
             |ranked AS (
             |  SELECT qid, nid, sim,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             |  FROM sym)
             |SELECT qid, nid, ROUND(sim, 4) AS sim, CAST(rank AS INT) AS rank
             |FROM ranked WHERE rank <= 3 AND qid < 30""".stripMargin)),

    // VOCABULARY COVERAGE CURVE — the statistic that sizes a tokenizer
    // vocabulary: for each budget k in a fixed doubling grid, the
    // fraction of corpus token OCCURRENCES covered by the k most
    // frequent types (ties broken by term ASC — a total order, so the
    // curve is deterministic). Rank + running sum are windows over the
    // VOCABULARY (bounded, ≪ corpus — the one acceptable global-window
    // domain; at open-vocab scale the top-k prefix comes from the q57
    // bounded heap instead). Integer counts, one division rounded once
    // per grid point.
    Q("q211_vocab_coverage",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(spark, dir, "documents")
        val counts = d.select(
            explode(TextFunctions.tokens(lower(col("text")))).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy(col("term")).agg(count(lit(1)).as("c"))
        val w = Window.orderBy(col("c").desc, col("term").asc)
        val ranked = counts
          .withColumn("rank", row_number().over(w))
          .withColumn("cum", sum(col("c")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = counts.agg(sum(col("c")).as("_t"),
          count(lit(1)).as("n_types"))
        val ks = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256).toDF("k")
        ranked.crossJoin(broadcast(ks))
          .filter(col("rank") <= col("k"))
          .groupBy(col("k"))
          .agg(max(col("cum")).as("covered"),
            count(lit(1)).as("n_in_budget"))
          .crossJoin(broadcast(tot))
          .select(col("k").cast("long").as("k"), col("n_in_budget"),
            col("n_types"), col("covered"), col("_t").as("total"),
            round(col("covered").cast("double") / col("_t"), 6)
              .as("coverage"))
      },
      Some("""WITH terms AS (
             |  SELECT unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS term
             |  FROM documents),
             |counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM terms
             |  WHERE length(term) > 0 GROUP BY term),
             |ranked AS (SELECT term, c,
             |    ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank,
             |    SUM(c) OVER (ORDER BY c DESC, term
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM counts),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
             |    CAST(COUNT(*) AS BIGINT) AS n_types FROM counts),
             |ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64, 128, 256]) AS BIGINT) AS k)
             |SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_in_budget,
             |  tot.n_types, CAST(MAX(r.cum) AS BIGINT) AS covered, tot.t AS total,
             |  round(CAST(MAX(r.cum) AS DOUBLE) / tot.t, 6) AS coverage
             |FROM ks JOIN ranked r ON r.rank <= ks.k, tot
             |GROUP BY ks.k, tot.n_types, tot.t""".stripMargin)),

    // OKAPI BM25 top-k retrieval (operators/Bm25) — the production
    // ranking function next to q76's cosine, formulated EXACT-INTEGER:
    // k1 = 6/5 and b = 3/4 as rationals, Lucene's idf as one
    // −ln(int/int) micro-nat per TERM, the tf saturation cleared of
    // denominators by 20·T, and every per-term contribution rounded to
    // an integer with (2ap + q) DIV 2q — so the per-doc score is an
    // integer SUM (associative: distributed aggregation order cannot
    // drift, unlike float BM25). Queries = the first 20 docs' term
    // sets, self excluded, top-10 by (score DESC, id) total order.
    // The oracle replays tf/df/dl/idf and the flooring division.
    Q("q210_bm25_topk",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Bm25.topK(d, "doc_id", "text",
          col("id") < 20, k = 10)
      },
      Some("WITH " + bm25ScoreCtes("documents", "doc_id", "id < 20") +
        ",\n" + rankedTop10Tail("sc"))),

    // RM3 PSEUDO-RELEVANCE FEEDBACK (Bm25.rm3TopK) — the classic
    // recall lever on the lexical leg (Lavrenko & Croft 2001; the
    // Anserini default): BM25's top-5 per query become the feedback
    // set, each feedback doc votes (tf·1e6) DIV dl per term, the
    // top-10 new terms (rm_w DESC, term ASC; original query terms
    // excluded) join the query at λ=½ micro-weights, and candidates
    // re-score as Σ wt_micro·contrib_micro — integers end-to-end, so
    // the expanded ranking replays exactly. Same query set as q210
    // truncated to id < 10; the gate pins BOTH passes (feedback
    // selection feeds the final scores) and the weight arithmetic.
    Q("q289_rm3_expansion",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Bm25.rm3TopK(d, "doc_id", "text",
          col("id") < 10, kFeedback = 5, mExpand = 10, k = 10)
      },
      Some("WITH " + bm25ScoreCtes("documents", "doc_id", "id < 10") +
        s""",
          |$rm3WeightCtes,
          |sc2 AS (SELECT a.qid, c.id,
          |    CAST(sum(a.wt * c.c) AS BIGINT) AS score_micro
          |  FROM allw a JOIN contrib c USING (term)
          |  WHERE c.id <> a.qid GROUP BY 1, 2)
          |SELECT qid, CAST(rank AS BIGINT) AS rank, id, score_micro FROM (
          |  SELECT qid, id, score_micro, ROW_NUMBER() OVER (
          |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
          |  FROM sc2) WHERE rank <= 10""".stripMargin)),

    // RM3 EVAL — q250's harness discipline on the expansion: the SAME
    // by-construction-relevant queries (first-25-token prefixes of
    // docs 0–4, relevance = the source doc) run through plain external
    // BM25 and through rm3TopKExternal, and the per-leg scorecard
    // (queries hit, hit@1, hit@10, integer micro MRR) says what the
    // second retrieval pass buys — the number that justifies (or
    // doesn't) running RM3 in production. Oracle replays both ranking
    // chains and the scorecard fold.
    Q("q296_rm3_eval",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val queries = d.filter(col("doc_id") < 5)
          .select((col("doc_id") + 9000000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
        val bm = graft.operators.Bm25.topKExternal(d, "doc_id", "text",
            queries, "qid", "qtext", k = 10)
          .select(col("qid"), col("id").as("nid"), col("rank"),
            lit("bm25").as("leg"))
        val rm = graft.operators.Bm25.rm3TopKExternal(d, "doc_id", "text",
            queries, "qid", "qtext", kFeedback = 5, mExpand = 10, k = 10)
          .select(col("qid"), col("id").as("nid"), col("rank"),
            lit("rm3").as("leg"))
        val sq = spark; import sq.implicits._
        val metrics = bm.unionByName(rm)
          .filter(col("nid") === col("qid") - 9000000L)
          .groupBy(col("leg"), col("qid"))
          .agg(min(col("rank")).as("first_hit"))
          .groupBy(col("leg"))
          .agg(count(lit(1)).as("n_hit_queries"),
            expr("CAST(sum(1000000 DIV first_hit) AS BIGINT)")
              .as("rr_sum_micro"),
            sum(when(col("first_hit") === 1, 1L).otherwise(0L))
              .as("hit_at_1"))
        // a leg whose every query misses must still report its zeros
        // (the scorecard's whole point when the expansion hurts)
        Seq("bm25", "rm3").toDF("leg")
          .join(metrics, Seq("leg"), "left")
          .crossJoin(broadcast(queries.agg(count(lit(1)).as("_nq"))))
          .select(col("leg"),
            coalesce(col("n_hit_queries"), lit(0L)).as("n_hit_queries"),
            coalesce(col("hit_at_1"), lit(0L)).as("hit_at_1"),
            coalesce(col("n_hit_queries"), lit(0L)).as("hit_at_10"),
            expr("CAST(coalesce(rr_sum_micro, 0) DIV _nq AS BIGINT)")
              .as("mrr_micro"))
      },
      Some("WITH " + bm25ScoreCtes("documents", "doc_id", "",
        qtOverride = Some(
          prefixQueryTerms(9000000, 25, "doc_id < 5"))) +
        s""",
          |$rm3WeightCtes,
          |sc2 AS (SELECT a.qid, c.id,
          |    CAST(sum(a.wt * c.c) AS BIGINT) AS score_micro
          |  FROM allw a JOIN contrib c USING (term) GROUP BY 1, 2),
          |rankedb AS (SELECT qid, id, ROW_NUMBER() OVER (
          |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank FROM sc),
          |rankedr AS (SELECT qid, id, ROW_NUMBER() OVER (
          |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank FROM sc2),
          |legs AS (
          |  SELECT 'bm25' AS leg, qid, id, rank FROM rankedb WHERE rank <= 10
          |  UNION ALL
          |  SELECT 'rm3', qid, id, rank FROM rankedr WHERE rank <= 10),
          |hits AS (SELECT leg, qid, min(rank) AS first_hit
          |  FROM legs WHERE id = qid - 9000000 GROUP BY 1, 2),
          |nqt AS (SELECT CAST(count(*) AS BIGINT) AS n
          |  FROM documents WHERE doc_id < 5),
          |hagg AS (SELECT leg, CAST(count(*) AS BIGINT) AS nh,
          |    CAST(sum(CASE WHEN first_hit = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS h1,
          |    CAST(sum(1000000 // first_hit) AS BIGINT) AS rrs
          |  FROM hits GROUP BY leg)
          |SELECT g.leg,
          |  CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hit_queries,
          |  CAST(coalesce(h.h1, 0) AS BIGINT) AS hit_at_1,
          |  CAST(coalesce(h.nh, 0) AS BIGINT) AS hit_at_10,
          |  CAST(coalesce(h.rrs, 0) // (SELECT n FROM nqt) AS BIGINT)
          |    AS mrr_micro
          |FROM (VALUES ('bm25'), ('rm3')) g(leg)
          |LEFT JOIN hagg h ON h.leg = g.leg""".stripMargin)),

    // EXACT PHRASE MATCH (Bm25.phraseMatches) — consecutive-token
    // phrase search over the positional posting index: the i-th
    // phrase term joins on (id, pos − i), so the work is |phrase|−1
    // keyed equi-joins over single-term posting lists and no document
    // is touched unless it carries EVERY phrase term. Fixture plants
    // the 4-token phrase once on %7==0 docs and TWICE on %14==0 docs
    // (adjacent plants — occurrence counting, not just existence).
    // Oracle replays positions over the same lowercased split.
    Q("q300_phrase_match",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          when(col("doc_id") % 14 === 0,
            concat(col("text"), lit(phrase), lit(phrase)))
            .when(col("doc_id") % 7 === 0, concat(col("text"), lit(phrase)))
            .otherwise(col("text")).as("text"))
        graft.operators.Bm25.phraseMatches(planted, "doc_id", "text",
          Seq("grafted", "exact", "phrase", "marker"))
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 14 = 0
             |      THEN text || ' grafted exact phrase marker grafted exact phrase marker'
             |      WHEN doc_id % 7 = 0
             |      THEN text || ' grafted exact phrase marker'
             |      ELSE text END AS text
             |  FROM documents),
             |${posCtes("tw", "corpus")},
             |m AS (SELECT a.doc_id FROM pos a
             |  JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             |    AND b.term = 'exact'
             |  JOIN pos c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
             |    AND c.term = 'phrase'
             |  JOIN pos d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
             |    AND d.term = 'marker'
             |  WHERE a.term = 'grafted')
             |SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_occurrences
             |FROM m GROUP BY doc_id""".stripMargin)),

    // BOOLEAN RETRIEVAL (Bm25.booleanTopK) — must/should/must-not
    // semantics as pure posting-list algebra (|must| semi-joins, one
    // anti-join over ids, never text), ranked by the summed BM25
    // contributions of the present must ∪ should terms. Fixture:
    // %5==0 docs carry both must terms, %10==0 add the should term
    // (ranked higher via its contribution + visible in n_should),
    // %20==0 add the must-not term and are excluded. Oracle = the
    // factored score chain + the boolean algebra in SQL.
    Q("q301_boolean_retrieval",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0, " qmustone qmusttwo").otherwise(""),
            when(col("doc_id") % 10 === 0, " qshouldone").otherwise(""),
            when(col("doc_id") % 20 === 0, " qnotone").otherwise(""))
            .as("text"))
        graft.operators.Bm25.booleanTopK(planted, "doc_id", "text",
          must = Seq("qmustone", "qmusttwo"),
          should = Seq("qshouldone"), mustNot = Seq("qnotone"), k = 15)
      },
      Some("WITH " +
        """corpus AS (
          |  SELECT doc_id, text
          |    || CASE WHEN doc_id % 5 = 0 THEN ' qmustone qmusttwo' ELSE '' END
          |    || CASE WHEN doc_id % 10 = 0 THEN ' qshouldone' ELSE '' END
          |    || CASE WHEN doc_id % 20 = 0 THEN ' qnotone' ELSE '' END AS text
          |  FROM documents),
          |""".stripMargin +
        bm25ScoreCtes("corpus", "doc_id", "",
          qtOverride = Some("SELECT 0 AS qid, '' AS term WHERE 1 = 0")) +
        """,
          |cand AS (SELECT id FROM dl
          |  WHERE id IN (SELECT id FROM tf WHERE term = 'qmustone')
          |    AND id IN (SELECT id FROM tf WHERE term = 'qmusttwo')
          |    AND id NOT IN (SELECT id FROM tf WHERE term = 'qnotone')),
          |sc3 AS (SELECT c.id, CAST(sum(ct.c) AS BIGINT) AS score_micro
          |  FROM cand c JOIN contrib ct ON ct.id = c.id
          |  WHERE ct.term IN ('qmustone', 'qmusttwo', 'qshouldone')
          |  GROUP BY c.id),
          |ns AS (SELECT id, CAST(count(DISTINCT term) AS BIGINT) AS n_should
          |  FROM tf WHERE term = 'qshouldone' GROUP BY id),
          |rk AS (SELECT s3.id, coalesce(n.n_should, 0) AS n_should,
          |    s3.score_micro,
          |    ROW_NUMBER() OVER (ORDER BY s3.score_micro DESC, s3.id) AS rank
          |  FROM sc3 s3 LEFT JOIN ns n ON n.id = s3.id)
          |SELECT CAST(rank AS BIGINT) AS rank, id, n_should, score_micro
          |FROM rk WHERE rank <= 15""".stripMargin)),

    // SERVE-SIDE SNIPPETS (Bm25.snippets) — per (query, result) pair
    // the best 20-token window of the document: the one containing
    // the most query-term occurrences, ties to the earliest start. An
    // optimal window can always start AT a query-term hit, so only
    // hit positions anchor candidates and hits-in-window is a RANGE
    // frame over each doc's few hit positions — the serve-path cost
    // is bounded by the result set, never the corpus. Results = the
    // external BM25 top-3 of prefix queries from docs 0–2; the gate
    // compares the SNIPPET TEXT itself.
    Q("q302_result_snippets",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val queries = d.filter(col("doc_id") < 3)
          .select((col("doc_id") + 9000000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 8), " ")
              .as("qtext"))
        val results = graft.operators.Bm25.topKExternal(d, "doc_id",
            "text", queries, "qid", "qtext", k = 3)
          .select(col("qid"), col("id"))
        val qterms = queries.select(col("qid"),
            explode(array_distinct(TextFunctions.tokens(lower(col("qtext")))))
              .as("term"))
          .filter(length(col("term")) > 0)
        graft.operators.Bm25.snippets(d, "doc_id", "text", results,
          qterms, windowTokens = 20)
      },
      Some("WITH " + bm25ScoreCtes("documents", "doc_id", "",
        qtOverride = Some(
          prefixQueryTerms(9000000, 8, "doc_id < 3"))) +
        s""",
          |res AS (SELECT qid, id FROM (
          |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
          |      ORDER BY score_micro DESC, id) AS r FROM sc) WHERE r <= 3),
          |${snippetWindowCtes("documents")}
          |SELECT b.qid, b.id, b.snip_start, CAST(b.n_hits AS BIGINT) AS n_hits,
          |  array_to_string(t.w[CAST(b.snip_start + 1 AS INT)
          |    :CAST(b.snip_start + 20 AS INT)], ' ') AS snippet
          |FROM best b JOIN tw t ON t.doc_id = b.id""".stripMargin)),

    // PROXIMITY-BOOSTED RANKING (Bm25.proximityTopK) — BM25 plus an
    // integer proximity bonus: every unordered pair of distinct query
    // terms co-occurring in a candidate contributes 1e6 DIV
    // (1 + closest distance in token positions) micro-points, so
    // near-co-occurrence outranks bag-of-words ties (the sloppy-phrase
    // serve signal). Same query set as q210 truncated to id < 5; the
    // oracle replays positions, per-pair minimum distances, the DIV
    // bonus fold, and the boosted total order.
    Q("q303_proximity_ranking",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Bm25.proximityTopK(d, "doc_id", "text",
          col("id") < 5, k = 10)
      },
      Some("WITH " + bm25ScoreCtes("documents", "doc_id", "id < 5") + ",\n" +
        proximityRankTail("documents"))),

    // FUZZY RETRIEVAL (Bm25.fuzzyTopK) — SymSpell delete-1 candidate
    // matching: a typo'd query term reaches every vocabulary term
    // within OSA distance 1 through the deletion-variant EQUI-join
    // (shared variant string as the key + the ±1 length rule — never
    // an edit-distance scan of the vocabulary), and matched terms
    // score as ordinary BM25 query terms. Fixture plants
    // ' zxcorrectterm' on %9==0 docs; the deletion typo and the exact
    // spelling must retrieve the same docs, and the no-match control
    // query yields no rows. Variants are pure string arithmetic —
    // both engines build the identical set.
    Q("q304_fuzzy_retrieval",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = d.select(col("doc_id"),
          when(col("doc_id") % 9 === 0,
            concat(col("text"), lit(" zxcorrectterm")))
            .otherwise(col("text")).as("text"))
        val queries = Seq(
          (9000001L, "zxcorrecterm"),   // deletion typo → distance 1
          (9000002L, "zxcorrectterm"),  // exact
          (9000003L, "qqqqzz"))         // matches nothing
          .toDF("qid", "qtext")
        graft.operators.Bm25.fuzzyTopK(planted, "doc_id", "text",
          queries, "qid", "qtext", k = 10)
      },
      Some("WITH " +
        """corpus AS (
          |  SELECT doc_id, CASE WHEN doc_id % 9 = 0
          |    THEN text || ' zxcorrectterm' ELSE text END AS text
          |  FROM documents),
          |""".stripMargin +
        bm25ScoreCtes("corpus", "doc_id", "",
          qtOverride = Some("SELECT 0 AS qid, '' AS term WHERE 1 = 0")) +
        """,
          |fv AS (SELECT term, unnest(list_distinct(list_concat([term],
          |    list_transform(generate_series(0, length(term) - 1),
          |      i -> substr(term, 1, i) || substr(term, i + 2))))) AS v
          |  FROM dfq),
          |fq AS (SELECT qid, qt, unnest(list_distinct(list_concat([qt],
          |    list_transform(generate_series(0, length(qt) - 1),
          |      i -> substr(qt, 1, i) || substr(qt, i + 2))))) AS v
          |  FROM (VALUES (9000001, 'zxcorrecterm'),
          |    (9000002, 'zxcorrectterm'), (9000003, 'qqqqzz')) q(qid, qt)),
          |cand AS (SELECT DISTINCT fq.qid, fq.qt, fv.term FROM fv
          |  JOIN fq ON fq.v = fv.v
          |  WHERE abs(length(fv.term) - length(fq.qt)) <= 1),
          |cmm AS (SELECT qid, qt, term,
          |    list_filter(generate_series(1, length(term)),
          |      p -> substr(term, p, 1) <> substr(qt, p, 1)) AS mm
          |  FROM cand),
          |fm AS (SELECT DISTINCT qid, term FROM cmm
          |  WHERE length(term) <> length(qt)
          |     OR len(mm) <= 1
          |     OR (len(mm) = 2 AND mm[2] = mm[1] + 1
          |         AND substr(term, mm[1], 1) = substr(qt, mm[2], 1)
          |         AND substr(term, mm[2], 1) = substr(qt, mm[1], 1))),
          |nm AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_terms_matched
          |  FROM fm GROUP BY 1),
          |fsc AS (SELECT m.qid, c.id,
          |    CAST(sum(c.c) AS BIGINT) AS score_micro
          |  FROM fm m JOIN contrib c USING (term) GROUP BY 1, 2)
          |SELECT r.qid, CAST(r.rank AS BIGINT) AS rank, r.id,
          |  r.score_micro, nm.n_terms_matched
          |FROM (SELECT qid, id, score_micro, ROW_NUMBER() OVER (
          |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
          |  FROM fsc) r
          |JOIN nm ON nm.qid = r.qid
          |WHERE r.rank <= 10""".stripMargin)),

    // "DID YOU MEAN" SUGGESTIONS (Bm25.didYouMean) — the fuzzy
    // family's serve companion: per query term, the OSA-distance-1
    // vocabulary terms ranked by document frequency (popularity, then
    // lexicographic; exact self-match excluded). Fixture plants two
    // near-spellings with different dfs (%6 plural > %9 singular), so
    // the 'zxcorrecttermz' typo must rank the plural first, and the
    // correctly-spelled query still earns its plural as a suggestion.
    // Same deletion-variant equi-join as q304; df rides the index.
    Q("q305_did_you_mean",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 9 === 0, " zxcorrectterm").otherwise(""),
            when(col("doc_id") % 6 === 0, " zxcorrectterms").otherwise(""))
            .as("text"))
        val queries = Seq(
          (9000001L, "zxcorrecttermz"), // dist 1 to BOTH plants
          (9000002L, "zxcorrectterm"),  // exact — only the plural suggests
          (9000003L, "qqqqzz"))         // no suggestions
          .toDF("qid", "qtext")
        graft.operators.Bm25.didYouMean(planted, "doc_id", "text",
          queries, "qid", "qtext", k = 3)
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 9 = 0 THEN ' zxcorrectterm' ELSE '' END
             |    || CASE WHEN doc_id % 6 = 0 THEN ' zxcorrectterms' ELSE '' END
             |    AS text
             |  FROM documents),
             |${termDfCtes("corpus")},
             |${fuzzyMatchCtes("(9000001, 'zxcorrecttermz'),\n    (9000002, 'zxcorrectterm'), (9000003, 'qqqqzz')")}
             |SELECT qid, qt AS term, CAST(rank AS BIGINT) AS rank,
             |  sterm AS suggestion, df
             |FROM (SELECT qid, qt, term AS sterm, df, ROW_NUMBER() OVER (
             |    PARTITION BY qid, qt ORDER BY df DESC, term) AS rank
             |  FROM fm)
             |WHERE rank <= 3""".stripMargin)),

    // MAINTAINED POSITIONAL INDEX → SERVE (Bm25.upsertPositional /
    // removePositional / phraseMatchesFrom / snippetsFrom — r16
    // missing #1): positions are PER-DOC facts, so the positional
    // member folds with the tf/dl algebra (append = union, delete =
    // id anti-join), and serving phrase + snippets from the MAINTAINED
    // frame must hash-equal a recompute over (epoch ∪ batch) ∖ deleted
    // — which is exactly what the oracle computes. Fixture: the batch
    // plants the q300 phrase on its %7==0 docs (double at %14==0),
    // epoch carriers at %7==0 too, and the deletion (%11==3) kills
    // carriers on BOTH sides — a stale index would still match them.
    // The serve side also exercises the RAREST-TERM anchor (df probe
    // over the maintained frame; 'zq0grafted' is the rarest by
    // construction so the chain anchors off-head).
    Q("q306_positional_index_serve",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " zq0grafted exact phrase marker"
        def plant(c: org.apache.spark.sql.DataFrame) = c.select(col("doc_id"),
          when(col("doc_id") % 14 === 0,
            concat(col("text"), lit(phrase), lit(phrase)))
            .when(col("doc_id") % 7 === 0, concat(col("text"), lit(phrase)))
            .otherwise(col("text")).as("text"))
        val epoch = plant(d.filter(col("doc_id") % 3 =!= 0))
        val batch = plant(d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 50000L).as("doc_id"), col("text")))
        val deleted = epoch.select(col("doc_id"))
          .unionByName(batch.select(col("doc_id")))
          .filter(col("doc_id") % 11 === 3)
        val maintained = graft.operators.Bm25.removePositional(
          graft.operators.Bm25.upsertPositional(
            graft.operators.Bm25.positionalPostings(epoch, "doc_id", "text"),
            batch, "doc_id", "text"),
          deleted, "doc_id")
        val p = graft.operators.OperatorCaches.track(maintained.persist())
        val terms = Seq("zq0grafted", "exact", "phrase", "marker")
        val ph = graft.operators.Bm25.phraseMatchesFrom(p, terms)
        val results = ph.select(lit(1L).as("qid"), col("id"))
        val qterms = terms.map((1L, _)).toDF("qid", "term")
        val sn = graft.operators.Bm25.snippetsFrom(p, results, qterms,
          windowTokens = 20)
        ph.join(sn.select(col("id"), col("snip_start"), col("n_hits"),
            col("snippet")), Seq("id"))
      },
      Some(s"""WITH $crudSurvivorCtes,
             |${posCtes("tw", "corpus")},
             |${markerPhraseCte("a.doc_id, a.pos")}),
             |occ AS (SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_occurrences
             |  FROM m GROUP BY doc_id),
             |hp AS (SELECT p.doc_id AS id, p.pos
             |  FROM pos p JOIN occ ON occ.id = p.doc_id
             |  WHERE p.term IN ('zq0grafted', 'exact', 'phrase', 'marker')),
             |wh AS (SELECT id, pos,
             |    count(*) OVER (PARTITION BY id ORDER BY pos
             |      RANGE BETWEEN CURRENT ROW AND 19 FOLLOWING) AS n_hits
             |  FROM hp),
             |best AS (SELECT id, pos AS snip_start, n_hits FROM (
             |    SELECT id, pos, n_hits, ROW_NUMBER() OVER (
             |      PARTITION BY id ORDER BY n_hits DESC, pos) AS rn
             |    FROM wh) WHERE rn = 1)
             |SELECT o.id, o.n_occurrences, b.snip_start,
             |  CAST(b.n_hits AS BIGINT) AS n_hits,
             |  array_to_string(t.w[CAST(b.snip_start + 1 AS INT)
             |    :CAST(b.snip_start + 20 AS INT)], ' ') AS snippet
             |FROM occ o JOIN best b ON b.id = o.id
             |  JOIN tw t ON t.doc_id = o.id""".stripMargin)),

    // MAINTAINED SYMSPELL VARIANT INDEX (Bm25.variantIndex /
    // maintainVariantIndex / didYouMeanFrom — r16 missing #2 + the
    // per-call-rebuild advisory): delete-1 variants are PER-TERM
    // facts, so the variant index's row set follows the df table's
    // term set exactly, and the fold across an IndexStats transition
    // is pure term-set algebra (born terms explode in, dead terms
    // anti-join out) — never a text or vocabulary re-scan. Fixture:
    // the epoch plants 'zxsingular' (%9==0) and 'zxsingulars' (%6==0),
    // the batch births 'zxbrandnew' (+50000 docs, %4==0), then the
    // DELETION kills every zxsingular carrier — its df hits 0, the
    // stats CRUD drops the term, and the folded variant index must
    // stop suggesting it (deletion load-bearing) while the born term
    // starts. Oracle = suggestion recompute over the survivors.
    Q("q307_variant_index_maintenance",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val epoch = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 9 === 0, " zxsingular").otherwise(""),
            when(col("doc_id") % 6 === 0, " zxsingulars").otherwise(""))
            .as("text"))
        val batch = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 50000L).as("doc_id"),
            when(col("doc_id") % 4 === 0,
              concat(col("text"), lit(" zxbrandnew")))
              .otherwise(col("text")).as("text"))
        val deleted = epoch.filter(col("doc_id") % 9 === 0)
          .select(col("doc_id"))
        val bm = graft.operators.Bm25
        val s0 = bm.indexStats(epoch, "doc_id", "text")
        val df0 = graft.operators.OperatorCaches.track(s0.df.persist())
        val vi0 = bm.variantIndex(df0)
        val s1 = bm.upsertIndexStats(
          bm.IndexStats(s0.tf, s0.dl, df0, s0.totals),
          batch, "doc_id", "text")
        val df1 = graft.operators.OperatorCaches.track(s1.df.persist())
        val vi1 = bm.maintainVariantIndex(vi0, df0, df1)
        val s2 = bm.removeIndexStats(
          bm.IndexStats(s1.tf, s1.dl, df1, s1.totals), deleted, "doc_id")
        val df2 = graft.operators.OperatorCaches.track(s2.df.persist())
        val vi2 = bm.maintainVariantIndex(vi1, df1, df2)
        val queries = Seq(
          (9000001L, "zxsingularz"),  // dist 1 to BOTH plants; one is dead
          (9000002L, "zxbrandnews"),  // dist 1 to the born term
          (9000003L, "qqqqzz"))       // no suggestions
          .toDF("qid", "qtext")
        bm.didYouMeanFrom(vi2, df2, queries, "qid", "qtext", k = 3)
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 6 = 0 THEN ' zxsingulars' ELSE '' END
             |    AS text
             |  FROM documents WHERE doc_id % 9 <> 0
             |  UNION ALL
             |  SELECT doc_id + 50000,
             |    CASE WHEN (doc_id + 50000) % 4 = 0
             |      THEN text || ' zxbrandnew' ELSE text END AS text
             |  FROM documents WHERE doc_id % 3 = 0),
             |${termDfCtes("corpus")},
             |${fuzzyMatchCtes("(9000001, 'zxsingularz'),\n    (9000002, 'zxbrandnews'), (9000003, 'qqqqzz')")}
             |SELECT qid, qt AS term, CAST(rank AS BIGINT) AS rank,
             |  sterm AS suggestion, df
             |FROM (SELECT qid, qt, term AS sterm, df, ROW_NUMBER() OVER (
             |    PARTITION BY qid, qt ORDER BY df DESC, term) AS rank
             |  FROM fm)
             |WHERE rank <= 3""".stripMargin)),

    // STREAMING PHRASE/BOOLEAN AT-INGEST (Bm25.standingMatchAtIngest —
    // r16 missing #5): the lexical serve surface's streaming member.
    // Standing alerts (one phrase, one must/must-not boolean) evaluate
    // on every incoming doc as ONE stateless projection — adjacency
    // and membership are per-row facts, so the plan has ZERO stateful
    // operators (Append mode, no watermark; pure Column HOFs). Fixture
    // combines q300's phrase plants (%7, double %14) with q301's
    // boolean plants (%5 musts, %10 should-ignored here, %20 the
    // must-not); the oracle is the batch SQL replay — streaming ==
    // batch, hash-equal, one row per incoming doc.
    Q("q310_streaming_standing_queries",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase)).otherwise(lit("")),
            when(col("doc_id") % 5 === 0, " qmustone qmusttwo").otherwise(""),
            when(col("doc_id") % 20 === 0, " qnotone").otherwise(""))
            .as("text"))
        val inDir = s"/tmp/graft-standq-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(planted, "doc_id", s"$dir/documents_standq")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          planted.write.mode("overwrite").parquet(inDir)
        graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => graft.operators.Bm25.standingMatchAtIngest(stream,
            "doc_id", "text",
            Seq("zq0grafted", "exact", "phrase", "marker"),
            Seq("qmustone", "qmusttwo"), Seq("qnotone")),
          org.apache.spark.sql.streaming.OutputMode.Append,
          s"q310_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 14 = 0
             |      THEN ' zq0grafted exact phrase marker zq0grafted exact phrase marker'
             |      WHEN doc_id % 7 = 0
             |      THEN ' zq0grafted exact phrase marker' ELSE '' END
             |    || CASE WHEN doc_id % 5 = 0 THEN ' qmustone qmusttwo' ELSE '' END
             |    || CASE WHEN doc_id % 20 = 0 THEN ' qnotone' ELSE '' END AS text
             |  FROM documents),
             |${posCtes("tw", "corpus")},
             |${markerPhraseCte("a.doc_id, CAST(count(*) AS BIGINT) AS occ")} GROUP BY 1),
             |mem AS (SELECT doc_id,
             |    max(CASE WHEN term = 'qmustone' THEN 1 ELSE 0 END)
             |      + max(CASE WHEN term = 'qmusttwo' THEN 1 ELSE 0 END) AS nm,
             |    max(CASE WHEN term = 'qnotone' THEN 1 ELSE 0 END) AS nn
             |  FROM pos GROUP BY 1)
             |SELECT c.doc_id AS id,
             |  CAST(coalesce(m.occ, 0) AS BIGINT) AS n_phrase,
             |  CAST(coalesce(mm.nm, 0) AS BIGINT) AS n_must,
             |  CAST(coalesce(mm.nn, 0) AS BIGINT) AS has_not,
             |  CAST(CASE WHEN coalesce(mm.nm, 0) = 2
             |    AND coalesce(mm.nn, 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
             |    AS bool_match
             |FROM corpus c LEFT JOIN m ON m.doc_id = c.doc_id
             |  LEFT JOIN mem mm ON mm.doc_id = c.doc_id""".stripMargin)),

    // EPOCH INDEX MERGE (Bm25.mergeIndexStats) — the production
    // reindex path: two shards (doc_id parity split) index
    // INDEPENDENTLY, the stats merge (tf/dl union, df summed merge,
    // totals added), and ranking against the merged index must
    // hash-equal a recompute over the whole corpus — which is exactly
    // the oracle (the q254 external-query chain over the unsplit
    // corpus). A wrong df merge shifts idf on every shared term; a
    // wrong totals fold shifts every length normalization — the gate
    // hashes full rankings, so either moves rows.
    Q("q311_index_shard_merge",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val bm = graft.operators.Bm25
        val merged = bm.mergeIndexStats(
          bm.indexStats(d.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
          bm.indexStats(d.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
        val queries = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 80000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
        bm.topKExternalStats(merged, queries, "qid", "qtext", k = 10)
      },
      Some("WITH " + bm25ScoreCtes("documents", "doc_id", "",
        qtOverride = Some(
          prefixQueryTerms(80000, 25, "doc_id < 10"))) +
        ",\n" + rankedTop10Tail("sc"))),

    // PREFIX AUTOCOMPLETE (Bm25.autocomplete) — the third serve
    // artifact off the maintained df table (ranked suggestions beside
    // q305's corrections and q304's fuzzy match): per typed prefix the
    // top-5 df-ranked completions, read straight from (term, df).
    // Fixture reuses q305's plants so the 'zxsing' prefix has TWO
    // completions with KNOWN df order (%6 plural > %9 singular); 'th'
    // exercises a dense natural prefix; 'qqqq' completes to nothing.
    Q("q312_prefix_autocomplete",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 9 === 0, " zxsingular").otherwise(""),
            when(col("doc_id") % 6 === 0, " zxsingulars").otherwise(""))
            .as("text"))
        val s = graft.operators.Bm25.indexStats(planted, "doc_id", "text")
        graft.operators.Bm25.autocomplete(s.df,
          Seq("th", "zxsing", "qqqq").toDF("prefix"), k = 5)
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 9 = 0 THEN ' zxsingular' ELSE '' END
             |    || CASE WHEN doc_id % 6 = 0 THEN ' zxsingulars' ELSE '' END
             |    AS text
             |  FROM documents),
             |${termDfCtes("corpus")},
             |px AS (SELECT unnest(['th', 'zxsing', 'qqqq']) AS prefix),
             |hits AS (SELECT p.prefix, d.term, d.df,
             |    ROW_NUMBER() OVER (PARTITION BY p.prefix
             |      ORDER BY d.df DESC, d.term) AS rank
             |  FROM dfq d JOIN px p ON starts_with(d.term, p.prefix))
             |SELECT prefix, CAST(rank AS BIGINT) AS rank, term, df
             |FROM hits WHERE rank <= 5""".stripMargin)),

    // STREAMING INDEX MAINTENANCE (IndexArtifact.applyCdcLexical —
    // the index CRUD's streaming member): document changes arrive as
    // a CDC feed (op I/U/D), each micro-batch folds into VERSIONED
    // PARTITIONED on-disk statistics (foreachBatch folds version N →
    // N+1 touching ONLY the hash(id)/hash(term) partitions the batch's
    // docs and terms land in; untouched partitions carry by manifest
    // reference — per-batch I/O is O(batch), not O(corpus), the r18
    // verdict's scale fix), and ranking against the final version must
    // hash-equal a recompute over the net corpus. maxFilesPerTrigger=1
    // forces MULTIPLE micro-batches, so the gate proves CROSS-BATCH
    // fold composition, and the per-window one-event-per-doc contract
    // makes the result batch-composition invariant (Spark's
    // file→batch assignment cannot move the hash).
    Q("q314_streaming_index_maintenance",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val bm = graft.operators.Bm25
        // CDC events, one per touched doc: updates (%9==2), inserts
        // (+50000 from %3==0, novel term on %6==0), deletes (%7==3,
        // minus the updated set — one event per doc per window)
        val updates = d.filter(col("doc_id") % 9 === 2)
          .select(lit("U").as("op"), col("doc_id"),
            concat(col("text"), lit(" revision graftcdc pass")).as("text"))
        val inserts = d.filter(col("doc_id") % 3 === 0)
          .select(lit("I").as("op"), (col("doc_id") + 50000L).as("doc_id"),
            when(col("doc_id") % 6 === 0,
              concat(col("text"), lit(" graftcdc novel ingest")))
              .otherwise(col("text")).as("text"))
        val deletes = d.filter(col("doc_id") % 7 === 3 &&
            col("doc_id") % 9 =!= 2)
          .select(lit("D").as("op"), col("doc_id"),
            lit(null).cast("string").as("text"))
        val cdc = updates.unionByName(inserts).unionByName(deletes)
        val inDir = s"/tmp/graft-cdc-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(cdc, "doc_id", s"$dir/documents_cdc")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          cdc.repartition(3, col("op")).write.mode("overwrite")
            .parquet(inDir)
        // fresh state root per run: a persisted checkpoint would mark
        // the feed consumed and silently serve last run's versions
        val root = freshRunDir(s"$inDir-state")
        // the maintenance folds shuffle tiny stat tables — run them (and
        // the v0 build) at low parallelism; restore the session conf
        // after (the runToCompletion discipline)
        val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", 2)
        val version = new java.util.concurrent.atomic.AtomicInteger(0)
        val lay = graft.operators.IndexArtifact.LexicalLayout(
          s"$root/idx", docParts = 8, termParts = 8)
        try {
          graft.operators.IndexArtifact.writeLexicalFull(
            lay, d, "doc_id", "text", version = 0)
          val schema = spark.read.parquet(inDir).schema
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
            .writeStream
            .option("checkpointLocation", s"$root/chk")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                _: Long) =>
              // scoped: the fold persists batch-local frames; release
              // them per micro-batch (the r18 cache discipline)
              graft.operators.OperatorCaches.scoped {
                val n = version.get()
                graft.operators.IndexArtifact.applyCdcLexical(
                  lay, batch, "doc_id", "text", "op",
                  fromVersion = n, toVersion = n + 1)
                version.incrementAndGet()
              }
              ()
            }
            .start()
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
        val fin = graft.operators.IndexArtifact.readLexicalStats(
          spark, lay, version.get())
        val queries = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 80000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
          .unionByName {
            val sq = spark; import sq.implicits._
            Seq((80100L, "revision graftcdc novel")).toDF("qid", "qtext")
          }
        bm.topKExternalStats(fin, queries, "qid", "qtext", k = 10)
      },
      Some("WITH " +
        """net AS (
          |  SELECT doc_id AS id, CASE WHEN doc_id % 9 = 2
          |      THEN text || ' revision graftcdc pass' ELSE text END AS text
          |  FROM documents WHERE NOT (doc_id % 7 = 3 AND doc_id % 9 <> 2)
          |  UNION ALL
          |  SELECT doc_id + 50000, CASE WHEN doc_id % 6 = 0
          |      THEN text || ' graftcdc novel ingest' ELSE text END
          |  FROM documents WHERE doc_id % 3 = 0),
          |""".stripMargin +
        bm25ScoreCtes("net", "id", "", qtOverride = Some(
          prefixQueryTerms(80000, 25, "doc_id < 10") + """
            |UNION
            |SELECT 80100 AS qid, unnest(
            |  ['revision', 'graftcdc', 'novel']) AS term""".stripMargin)) +
        ",\n" + rankedTop10Tail("sc"))),

    // PERCOLATOR (Bm25.registerStandingQueries / percolate — q310's
    // fixed alert at PRODUCTION scale): thousands of boolean alerts
    // register as a term-keyed QUERY INDEX and each incoming doc
    // probes it relationally — index the queries, stream the docs.
    // The signed-weight trick (+1 per must, −2^20 per mustNot) folds
    // must-counting AND must-not exclusion into ONE aggregation
    // (streaming-safe: per-row term derivation, stream-static join,
    // one sum). Fixture: 15 alerts = first-6-token conjunctions of
    // docs < 15, every third alert excludes the planted ' qnotone'
    // (%20 docs carry it) — each alert matches at least its source
    // doc unless the exclusion kills it. A 16th CONTRADICTORY alert
    // (must ∩ mustNot = 'qnotone', plus the common must 'the') pins the
    // all-musts n_must count: a doc carrying 'the' but not 'qnotone'
    // must NOT match it (r17 advice — the pre-fix count let it).
    // Oracle replays the boolean algebra with an explicit NOT EXISTS.
    Q("q315_percolator",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = d.select(col("doc_id"),
          when(col("doc_id") % 20 === 0,
            concat(col("text"), lit(" qnotone")))
            .otherwise(col("text")).as("text"))
        val queries = d.filter(col("doc_id") < 15)
          .select((col("doc_id") + 90000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 6), " ")
              .as("must_text"),
            when(col("doc_id") % 3 === 0, "qnotone")
              .otherwise(null).cast("string").as("not_text"))
          .unionByName(Seq((90100L, "the qnotone", "qnotone"))
            .toDF("qid", "must_text", "not_text"))
        val idx = graft.operators.Bm25.registerStandingQueries(
          queries, "qid", "must_text", "not_text")
        graft.operators.Bm25.percolate(idx, planted, "doc_id", "text")
      },
      Some(percolatorOracle)),

    // STREAMING PERCOLATION (Bm25.percolate per micro-batch — q315's
    // streaming member, re-shaped per the r17 verdict): percolation of
    // a whole document needs NO cross-batch state — a doc's terms
    // arrive together in its one row, so the match is decidable INSIDE
    // the micro-batch. Each batch percolates against the registered
    // query index and APPENDS its matches to a durable sink (the q314
    // foreachBatch discipline) — zero stateful operators, bounded
    // memory at any ingest volume, matches emitted as they happen
    // (the old Complete-mode (doc, qid) state store grew with every
    // doc ever seen — the r17 "What's wrong #1"). maxFilesPerTrigger=1
    // forces multi-batch composition; docs partition across batches,
    // so appended matches == the batch percolation, hash-equal. Same
    // fixture and oracle as q315 (incl. the contradictory alert).
    Q("q316_streaming_percolation",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = d.select(col("doc_id"),
          when(col("doc_id") % 20 === 0,
            concat(col("text"), lit(" qnotone")))
            .otherwise(col("text")).as("text"))
        val queries = d.filter(col("doc_id") < 15)
          .select((col("doc_id") + 90000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 6), " ")
              .as("must_text"),
            when(col("doc_id") % 3 === 0, "qnotone")
              .otherwise(null).cast("string").as("not_text"))
          .unionByName(Seq((90100L, "the qnotone", "qnotone"))
            .toDF("qid", "must_text", "not_text"))
        val idx = graft.operators.OperatorCaches.track(
          graft.operators.Bm25.registerStandingQueries(
            queries, "qid", "must_text", "not_text").persist())
        val inDir = s"/tmp/graft-perc3-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(planted, "doc_id", s"$dir/documents_perc")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          planted.repartition(3).write.mode("overwrite").parquet(inDir)
        // fresh sink + checkpoint per run (a persisted checkpoint would
        // mark the feed consumed and serve last run's matches)
        val root = freshRunDir(s"$inDir-run")
        val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", 2)
        try {
          val schema = spark.read.parquet(inDir).schema
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
            .writeStream
            .option("checkpointLocation", s"$root/chk")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                _: Long) =>
              // scoped: percolate persists a batch-local probe frame;
              // release it per batch (the persisted idx stays cached)
              graft.operators.OperatorCaches.scoped {
                graft.operators.Bm25.percolate(idx, batch,
                    "doc_id", "text")
                  .write.mode("append").parquet(s"$root/matches")
              }
              ()
            }
            .start()
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
        spark.read.parquet(s"$root/matches")
      },
      Some(percolatorOracle)),

    // INDEX DATA CARD (Bm25.indexCard — the q290 card discipline
    // applied to the index itself): the one-row operational report
    // (counts, integer-exact avgdl, EXACT df quantiles, dominant
    // term) read off MAINTAINED statistics after a full CRUD cycle
    // (q254's fixture: epoch + upserted batch + deletions), so the
    // card is deletion-aware by construction — a stale index moves
    // every field. Quantiles run over distinct-df cumulative counts
    // (a few hundred rows at any vocabulary size), never a
    // vocab-wide sort. Oracle = recompute over the net corpus.
    Q("q317_index_card",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val epoch = d.filter(col("doc_id") % 3 =!= 0)
        val batch = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 50000L).as("doc_id"),
            when(col("doc_id") % 6 === 0,
              concat(col("text"), lit(" graftupsert novelterm ingestion")))
              .otherwise(col("text")).as("text"))
        val deleted = epoch.select(col("doc_id"))
          .unionByName(batch.select(col("doc_id")))
          .filter(col("doc_id") % 7 === 2)
          .unionByName(Seq(999999L).toDF("doc_id"))
        val bm = graft.operators.Bm25
        val pruned = bm.removeIndexStats(
          bm.upsertIndexStats(bm.indexStats(epoch, "doc_id", "text"),
            batch, "doc_id", "text"),
          deleted, "doc_id")
        bm.indexCard(pruned)
      },
      Some("""WITH net AS (
             |  SELECT doc_id AS id, text FROM documents
             |  WHERE doc_id % 3 <> 0 AND doc_id % 7 <> 2
             |  UNION ALL
             |  SELECT doc_id + 50000, CASE WHEN doc_id % 6 = 0
             |      THEN text || ' graftupsert novelterm ingestion'
             |      ELSE text END
             |  FROM documents WHERE doc_id % 3 = 0 AND (doc_id + 50000) % 7 <> 2),
             |terms AS (SELECT id, unnest(string_split_regex(
             |    lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS term
             |  FROM net),
             |tok AS (SELECT id, term FROM terms WHERE length(term) > 0),
             |tfq AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             |  FROM tfq GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tok),
             |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM net),
             |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_terms FROM dfq),
             |np AS (SELECT CAST(count(*) AS BIGINT) AS n_postings FROM tfq),
             |dfc AS (SELECT df, count(*) AS c FROM dfq GROUP BY 1),
             |cum AS (SELECT df, sum(c) OVER (ORDER BY df) AS cc FROM dfc),
             |q50 AS (SELECT min(df) AS v FROM cum, nt
             |  WHERE cc >= (n_terms * 50 + 99) // 100),
             |q90 AS (SELECT min(df) AS v FROM cum, nt
             |  WHERE cc >= (n_terms * 90 + 99) // 100),
             |q99 AS (SELECT min(df) AS v FROM cum, nt
             |  WHERE cc >= (n_terms * 99 + 99) // 100),
             |tp AS (SELECT df AS max_df, term AS top_term FROM dfq
             |  ORDER BY df DESC, term LIMIT 1)
             |SELECT nt.n_terms, np.n_postings, nd.n AS n_docs,
             |  tot.t AS total_tokens,
             |  CAST(tot.t * 1000000 // nd.n AS BIGINT) AS avgdl_micro,
             |  q50.v AS df_p50, q90.v AS df_p90, q99.v AS df_p99,
             |  tp.max_df, tp.top_term
             |FROM nt, np, nd, tot, q50, q90, q99, tp""".stripMargin)),

    // MERGED-MEMBER SERVE (positional union / Bm25.mergeVariantIndex —
    // r17 missing #1, closing the merge across ALL index members):
    // q311's epoch shard merge covered IndexStats only, so a merged
    // index would re-scan text the moment a phrase or fuzzy query
    // arrived. Positions and variants are per-doc / per-term facts:
    // the positional merge is a bare union (same disjoint-ids
    // precondition), the variant merge union+distinct (a term in both
    // shards carries identical rows; no term is new to a merge). The
    // gate serves BOTH legs from merged members — phrase adjacency off
    // the merged positional frame, did-you-mean off the merged variant
    // index joined to the merged (summed-df) term table — and each
    // must hash-equal the whole-corpus recompute, which is the oracle.
    // Fixture: q306's phrase plants (%7, double %14) + q307's
    // 'zxsingular' plant (%9) land in BOTH parity shards.
    Q("q318_merged_member_serve",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase)).otherwise(lit("")),
            when(col("doc_id") % 9 === 0, lit(" zxsingular"))
              .otherwise(lit("")))
            .as("text"))
        val bm = graft.operators.Bm25
        val shardA = planted.filter(col("doc_id") % 2 === 0)
        val shardB = planted.filter(col("doc_id") % 2 === 1)
        val sA = bm.indexStats(shardA, "doc_id", "text")
        val sB = bm.indexStats(shardB, "doc_id", "text")
        val merged = bm.mergeIndexStats(sA, sB)
        val mdf = graft.operators.OperatorCaches.track(merged.df.persist())
        val p = graft.operators.OperatorCaches.track(
          bm.positionalPostings(shardA, "doc_id", "text").unionByName(
            bm.positionalPostings(shardB, "doc_id", "text")).persist())
        val vi = bm.mergeVariantIndex(
          bm.variantIndex(sA.df), bm.variantIndex(sB.df))
        val ph = bm.phraseMatchesFrom(p,
          Seq("zq0grafted", "exact", "phrase", "marker"))
        val queries = Seq((9000001L, "zxsingularz"), (9000002L, "qqqqzz"))
          .toDF("qid", "qtext")
        val dym = bm.didYouMeanFrom(vi, mdf, queries, "qid", "qtext", k = 3)
        ph.select(lit("phrase").as("leg"), lit(-1L).as("qid"),
            lit(0L).as("rank"), col("id").cast("string").as("key"),
            col("n_occurrences").as("val"))
          .unionByName(dym.select(lit("fuzzy").as("leg"), col("qid"),
            col("rank"), col("suggestion").as("key"), col("df").as("val")))
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 14 = 0
             |      THEN ' zq0grafted exact phrase marker zq0grafted exact phrase marker'
             |      WHEN doc_id % 7 = 0
             |      THEN ' zq0grafted exact phrase marker' ELSE '' END
             |    || CASE WHEN doc_id % 9 = 0 THEN ' zxsingular' ELSE '' END
             |    AS text
             |  FROM documents),
             |${posCtes("tw", "corpus")},
             |${markerPhraseCte("a.doc_id, a.pos")}),
             |occ AS (SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n
             |  FROM m GROUP BY 1),
             |tfq AS (SELECT doc_id AS id, term FROM pos GROUP BY 1, 2),
             |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             |  FROM tfq GROUP BY 1),
             |${fuzzyMatchCtes("(9000001, 'zxsingularz'),\n    (9000002, 'qqqqzz')")},
             |rk AS (SELECT qid, term AS sug, df, ROW_NUMBER() OVER (
             |    PARTITION BY qid ORDER BY df DESC, term) AS rank
             |  FROM fm)
             |SELECT 'phrase' AS leg, CAST(-1 AS BIGINT) AS qid,
             |  CAST(0 AS BIGINT) AS rank, CAST(id AS VARCHAR) AS key,
             |  n AS val FROM occ
             |UNION ALL
             |SELECT 'fuzzy', qid, CAST(rank AS BIGINT), sug, df
             |FROM rk WHERE rank <= 3""".stripMargin)),

    // SERVE-FROM-MERGED RESIDUALS (r18 verdict missing #5 — the last
    // three serve modes off merged epoch shards, closing the matrix
    // q318/q325/q326 opened): BM25 top-k and BOOLEAN retrieval off the
    // merged statistics (summed df, added totals — a wrong merge
    // shifts idf on every shared term), and SNIPPETS for the top-k
    // results off the merged positional frame. All three compose from
    // already-merged members — no text re-scan anywhere on the serve
    // path. Fixture = q318's plants + the q315 ' qnotone' carrier so
    // the boolean must-not leg is load-bearing (excluded docs carry
    // the must terms when %7∩%20 align at 140-multiples). One oracle
    // replays scoring, boolean algebra, and best-window selection over
    // the whole planted corpus.
    Q("q330_merged_serve_residuals",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase)).otherwise(lit("")),
            when(col("doc_id") % 9 === 0, lit(" zxsingular"))
              .otherwise(lit("")),
            when(col("doc_id") % 20 === 0, lit(" qnotone"))
              .otherwise(lit("")))
            .as("text"))
        val bm = graft.operators.Bm25
        val shardA = planted.filter(col("doc_id") % 2 === 0)
        val shardB = planted.filter(col("doc_id") % 2 === 1)
        val merged = bm.mergeIndexStats(
          bm.indexStats(shardA, "doc_id", "text"),
          bm.indexStats(shardB, "doc_id", "text"))
        val mergedPos = graft.operators.OperatorCaches.track(
          bm.positionalPostings(shardA, "doc_id", "text").unionByName(
            bm.positionalPostings(shardB, "doc_id", "text")).persist())
        val queries = Seq((8000001L, "zq0grafted marker"),
          (8000002L, "zxsingular the")).toDF("qid", "qtext")
        val bmLeg = graft.operators.OperatorCaches.track(
          bm.topKExternalStats(merged, queries, "qid", "qtext", k = 5)
            .persist())
        val boolLeg = bm.booleanTopKFrom(merged,
          must = Seq("zq0grafted", "marker"),
          should = Seq("zxsingular"), mustNot = Seq("qnotone"), k = 15)
        val qterms = queries.select(col("qid"),
            explode(array_distinct(TextFunctions.tokens(lower(col("qtext")))))
              .as("term"))
          .filter(length(col("term")) > 0)
        val snipLeg = bm.snippetsFrom(mergedPos,
          bmLeg.select(col("qid"), col("id")), qterms, windowTokens = 20)
        bmLeg.select(lit("bm25").as("leg"), col("qid"), col("rank"),
            col("id"), col("score_micro").as("val"), lit(0L).as("val2"),
            lit(null).cast("string").as("txt"))
          .unionByName(boolLeg.select(lit("bool").as("leg"),
            lit(-1L).as("qid"), col("rank"), col("id"),
            col("score_micro").as("val"), col("n_should").as("val2"),
            lit(null).cast("string").as("txt")))
          .unionByName(snipLeg.select(lit("snip").as("leg"), col("qid"),
            lit(0L).as("rank"), col("id"),
            col("n_hits").cast("long").as("val"),
            col("snip_start").as("val2"), col("snippet").as("txt")))
      },
      Some("WITH " +
        """corpus AS (
          |  SELECT doc_id, text
          |    || CASE WHEN doc_id % 14 = 0
          |      THEN ' zq0grafted exact phrase marker zq0grafted exact phrase marker'
          |      WHEN doc_id % 7 = 0
          |      THEN ' zq0grafted exact phrase marker' ELSE '' END
          |    || CASE WHEN doc_id % 9 = 0 THEN ' zxsingular' ELSE '' END
          |    || CASE WHEN doc_id % 20 = 0 THEN ' qnotone' ELSE '' END AS text
          |  FROM documents),
          |""".stripMargin +
        bm25ScoreCtes("corpus", "doc_id", "", qtOverride = Some(
          """SELECT qid, term FROM (VALUES
            |  (8000001, 'zq0grafted'), (8000001, 'marker'),
            |  (8000002, 'zxsingular'), (8000002, 'the')) t(qid, term)"""
            .stripMargin)) +
        s""",
          |brk AS (SELECT qid, id, score_micro, ROW_NUMBER() OVER (
          |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
          |  FROM sc),
          |bcand AS (SELECT id FROM dl
          |  WHERE id IN (SELECT id FROM tf WHERE term = 'zq0grafted')
          |    AND id IN (SELECT id FROM tf WHERE term = 'marker')
          |    AND id NOT IN (SELECT id FROM tf WHERE term = 'qnotone')),
          |bsc AS (SELECT c.id, CAST(sum(ct.c) AS BIGINT) AS score_micro
          |  FROM bcand c JOIN contrib ct ON ct.id = c.id
          |  WHERE ct.term IN ('zq0grafted', 'marker', 'zxsingular')
          |  GROUP BY c.id),
          |bns AS (SELECT id, CAST(count(DISTINCT term) AS BIGINT) AS n_should
          |  FROM tf WHERE term = 'zxsingular' GROUP BY id),
          |brt AS (SELECT s3.id, coalesce(n.n_should, 0) AS n_should,
          |    s3.score_micro,
          |    ROW_NUMBER() OVER (ORDER BY s3.score_micro DESC, s3.id) AS rank
          |  FROM bsc s3 LEFT JOIN bns n ON n.id = s3.id),
          |res AS (SELECT qid, id FROM brk WHERE rank <= 5),
          |${snippetWindowCtes("corpus")},
          |snp AS (SELECT b.qid, b.id, b.snip_start,
          |    CAST(b.n_hits AS BIGINT) AS n_hits,
          |    array_to_string(t.w[CAST(b.snip_start + 1 AS INT)
          |      :CAST(b.snip_start + 20 AS INT)], ' ') AS snippet
          |  FROM best b JOIN tw t ON t.doc_id = b.id)
          |SELECT 'bm25' AS leg, CAST(qid AS BIGINT) AS qid,
          |  CAST(rank AS BIGINT) AS rank, id,
          |  score_micro AS val, CAST(0 AS BIGINT) AS val2,
          |  CAST(NULL AS VARCHAR) AS txt
          |FROM brk WHERE rank <= 5
          |UNION ALL
          |SELECT 'bool', -1, CAST(rank AS BIGINT), id, score_micro,
          |  n_should, NULL
          |FROM brt WHERE rank <= 15
          |UNION ALL
          |SELECT 'snip', CAST(qid AS BIGINT), 0, id, n_hits,
          |  snip_start, snippet
          |FROM snp""".stripMargin)),

    // PROXIMITY FROM MERGED MEMBERS (q318's third serve leg): the
    // epoch shard-merge path must serve proximity-boosted ranking too
    // — BM25 off the merged stats (summed df, added totals), pair
    // distances off the merged positional frame — without re-scanning
    // text. Same parity-shard fixture as q318; oracle = the q303
    // chain over the whole planted corpus. A wrong df merge shifts
    // idf on every shared term; a wrong positional merge shifts every
    // pair distance — either moves rows.
    Q("q325_proximity_from_merged",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase)).otherwise(lit("")),
            when(col("doc_id") % 9 === 0, lit(" zxsingular"))
              .otherwise(lit(""))).as("text"))
        val bm = graft.operators.Bm25
        val shardA = planted.filter(col("doc_id") % 2 === 0)
        val shardB = planted.filter(col("doc_id") % 2 === 1)
        val merged = bm.mergeIndexStats(
          bm.indexStats(shardA, "doc_id", "text"),
          bm.indexStats(shardB, "doc_id", "text"))
        val p = graft.operators.OperatorCaches.track(
          bm.positionalPostings(shardA, "doc_id", "text").unionByName(
            bm.positionalPostings(shardB, "doc_id", "text")).persist())
        bm.proximityTopKFrom(merged, p, col("id") < 5, k = 10)
      },
      Some("WITH " +
        """corpus AS (
          |  SELECT doc_id, text
          |    || CASE WHEN doc_id % 14 = 0
          |      THEN ' zq0grafted exact phrase marker zq0grafted exact phrase marker'
          |      WHEN doc_id % 7 = 0
          |      THEN ' zq0grafted exact phrase marker' ELSE '' END
          |    || CASE WHEN doc_id % 9 = 0 THEN ' zxsingular' ELSE '' END
          |    AS text
          |  FROM documents),
          |""".stripMargin +
        bm25ScoreCtes("corpus", "doc_id", "id < 5") + ",\n" +
        proximityRankTail("corpus"))),

    // AUTOCOMPLETE FROM MAINTAINED STATS (q312's serve-from-maintained
    // form): completions read the df table a CRUD cycle maintains —
    // q307's fixture (epoch plants, batch births 'zxbrandnew',
    // deletion exhausts every 'zxsingular' carrier), then the typed
    // prefixes probe the FOLDED df table. Deletion load-bearing: a
    // stale df still completes the dead 'zxsingular'; the born term
    // must start completing. Oracle = q312's replay over the net
    // corpus.
    Q("q326_autocomplete_from_maintained",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val epoch = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 9 === 0, " zxsingular").otherwise(""),
            when(col("doc_id") % 6 === 0, " zxsingulars").otherwise(""))
            .as("text"))
        val batch = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 50000L).as("doc_id"),
            when(col("doc_id") % 4 === 0,
              concat(col("text"), lit(" zxbrandnew")))
              .otherwise(col("text")).as("text"))
        val deleted = epoch.filter(col("doc_id") % 9 === 0)
          .select(col("doc_id"))
        val bm = graft.operators.Bm25
        val s2 = bm.removeIndexStats(
          bm.upsertIndexStats(bm.indexStats(epoch, "doc_id", "text"),
            batch, "doc_id", "text"),
          deleted, "doc_id")
        bm.autocomplete(s2.df,
          Seq("th", "zxsing", "zxbrand", "qqqq").toDF("prefix"), k = 5)
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 6 = 0 THEN ' zxsingulars' ELSE '' END
             |    AS text
             |  FROM documents WHERE doc_id % 9 <> 0
             |  UNION ALL
             |  SELECT doc_id + 50000,
             |    CASE WHEN (doc_id + 50000) % 4 = 0
             |      THEN text || ' zxbrandnew' ELSE text END AS text
             |  FROM documents WHERE doc_id % 3 = 0),
             |${termDfCtes("corpus")},
             |px AS (SELECT unnest(['th', 'zxsing', 'zxbrand', 'qqqq']) AS prefix),
             |hits AS (SELECT p.prefix, d.term, d.df,
             |    ROW_NUMBER() OVER (PARTITION BY p.prefix
             |      ORDER BY d.df DESC, d.term) AS rank
             |  FROM dfq d JOIN px p ON starts_with(d.term, p.prefix))
             |SELECT prefix, CAST(rank AS BIGINT) AS rank, term, df
             |FROM hits WHERE rank <= 5""".stripMargin)),

    // PROXIMITY FROM MAINTAINED MEMBERS (Bm25.proximityTopKFrom — r17
    // missing #2): q303 gates proximity on the recompute path and q306
    // gates phrase+snippets from the maintained positional frame, but
    // the proximity leg of the serve-from-maintained contract was
    // ungated. Same CRUD fixture as q306 (epoch ∪ upserted batch ∖
    // deleted, with the phrase plants): BM25 scores read the
    // maintained IndexStats, pair distances the maintained positional
    // frame, and the boosted ranking must hash-equal the q303 chain
    // recomputed over the survivor corpus. A stale positional frame
    // (deletion skipped) moves prox bonuses; a stale df moves idf —
    // either moves rows.
    Q("q319_proximity_from_maintained",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " zq0grafted exact phrase marker"
        def plant(c: org.apache.spark.sql.DataFrame) = c.select(col("doc_id"),
          when(col("doc_id") % 14 === 0,
            concat(col("text"), lit(phrase), lit(phrase)))
            .when(col("doc_id") % 7 === 0, concat(col("text"), lit(phrase)))
            .otherwise(col("text")).as("text"))
        val epoch = plant(d.filter(col("doc_id") % 3 =!= 0))
        val batch = plant(d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 50000L).as("doc_id"), col("text")))
        val deleted = epoch.select(col("doc_id"))
          .unionByName(batch.select(col("doc_id")))
          .filter(col("doc_id") % 11 === 3)
        val bm = graft.operators.Bm25
        val s = bm.removeIndexStats(
          bm.upsertIndexStats(bm.indexStats(epoch, "doc_id", "text"),
            batch, "doc_id", "text"),
          deleted, "doc_id")
        val p = graft.operators.OperatorCaches.track(
          bm.removePositional(
            bm.upsertPositional(
              bm.positionalPostings(epoch, "doc_id", "text"),
              batch, "doc_id", "text"),
            deleted, "doc_id").persist())
        bm.proximityTopKFrom(s, p, col("id") < 5, k = 10)
      },
      Some("WITH " + crudSurvivorCtes + ",\n" +
        bm25ScoreCtes("corpus", "doc_id", "id < 5") + ",\n" +
        proximityRankTail("corpus"))),

    // PHRASE PERCOLATOR (Bm25.registerStandingPhrases /
    // percolatePhrases — r17 missing #3): standing PHRASE alerts at
    // production scale — the queries index as a POSITIONAL query index
    // (qid, off, term) and every incoming doc probes it relationally
    // with the q306 adjacency algebra transposed to the query side
    // (anchor = pos − off; a (doc, qid, anchor) cell collecting every
    // query row is one occurrence). Alert mix models production: 200
    // SELECTIVE marker alerts ('zxph<i> sig marker', planted on half
    // the corpus keyed by doc_id % 200 — rarest-term routing is
    // load-bearing: each routes on its tiny zxph<i> posting list, so
    // cost stays Σ_q |postings(rarest)|·|phrase| however common 'sig'/
    // 'marker' get), 25 natural-trigram alerts over the dense 30-word
    // vocabulary (the worst case: every term common), and one literal
    // alert on the planted q300 phrase. Matching is intra-doc, so the
    // STREAMING member runs stateless per micro-batch (the q316
    // foreachBatch shape); appended matches == batch percolation ==
    // the oracle's SQL replay, hash-equal.
    Q("q320_phrase_percolator",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase))
              .otherwise(lit("")),
            when(col("doc_id") % 2 === 0,
              concat(lit(" zxph"), col("doc_id") % 200,
                lit(" sig marker"))).otherwise(lit("")))
            .as("text"))
        val toks = TextFunctions.tokens(col("text"))
        val queries = d.filter(col("doc_id") < 25 && size(toks) >= 5)
          .select((col("doc_id") + 90000L).as("qid"),
            array_join(slice(toks, 3, 3), " ").as("phrase_text"))
          .unionByName(spark.range(200)
            .select((col("id") + 96000L).as("qid"),
              concat(lit("zxph"), col("id"), lit(" sig marker"))
                .as("phrase_text")))
          .unionByName(Seq((95000L, "zq0grafted exact phrase marker"))
            .toDF("qid", "phrase_text"))
        val idx = graft.operators.OperatorCaches.track(
          graft.operators.Bm25.registerStandingPhrases(
            queries, "qid", "phrase_text").persist())
        val inDir = s"/tmp/graft-phperc-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(planted, "doc_id", s"$dir/documents_phperc")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          planted.repartition(3).write.mode("overwrite").parquet(inDir)
        val root = freshRunDir(s"$inDir-run")
        val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", 2)
        try {
          val schema = spark.read.parquet(inDir).schema
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
            .writeStream
            .option("checkpointLocation", s"$root/chk")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                _: Long) =>
              // scoped: percolatePhrases persists the batch's postings;
              // release per batch (the persisted idx stays cached)
              graft.operators.OperatorCaches.scoped {
                graft.operators.Bm25.percolatePhrases(idx, batch,
                    "doc_id", "text")
                  .write.mode("append").parquet(s"$root/matches")
              }
              ()
            }
            .start()
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
        spark.read.parquet(s"$root/matches")
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text || CASE WHEN doc_id % 14 = 0
             |    THEN ' zq0grafted exact phrase marker zq0grafted exact phrase marker'
             |    WHEN doc_id % 7 = 0
             |    THEN ' zq0grafted exact phrase marker' ELSE '' END
             |    || CASE WHEN doc_id % 2 = 0
             |    THEN ' zxph' || CAST(doc_id % 200 AS VARCHAR) || ' sig marker'
             |    ELSE '' END AS text
             |  FROM documents),
             |${posCtes("tw", "corpus")},
             |qtw AS (SELECT doc_id, string_split_regex(
             |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS w
             |  FROM documents WHERE doc_id < 25),
             |qx AS (SELECT doc_id + 90000 AS qid, CAST(i - 3 AS BIGINT) AS off,
             |    w[i] AS term
             |  FROM (SELECT doc_id, w, unnest(generate_series(3, 5)) AS i
             |        FROM qtw WHERE len(w) >= 5)
             |  WHERE length(w[i]) > 0
             |  UNION ALL
             |  SELECT 96000 + r AS qid, CAST(v.off AS BIGINT),
             |    CASE v.off WHEN 0 THEN 'zxph' || CAST(r AS VARCHAR)
             |      WHEN 1 THEN 'sig' ELSE 'marker' END
             |  FROM (SELECT unnest(generate_series(0, 199)) AS r)
             |  CROSS JOIN (VALUES (0), (1), (2)) v(off)
             |  UNION ALL
             |  SELECT 95000, CAST(off AS BIGINT), term
             |  FROM (VALUES (0, 'zq0grafted'), (1, 'exact'), (2, 'phrase'),
             |    (3, 'marker')) v(off, term)),
             |an AS (SELECT p.doc_id AS id, q.qid, p.pos - q.off AS a,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM pos p JOIN qx q ON q.term = p.term GROUP BY 1, 2, 3),
             |qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS n FROM qx
             |  GROUP BY 1)
             |SELECT a.id, a.qid, CAST(count(*) AS BIGINT) AS n_occurrences
             |FROM an a JOIN qn ON qn.qid = a.qid WHERE a.c = qn.n
             |GROUP BY 1, 2""".stripMargin)),

    // STREAMING CDC CLOSURE ACROSS INDEX MEMBERS (Bm25.applyCdcBatch +
    // applyCdcBatchPositional + maintainVariantIndex in ONE versioned
    // foreachBatch cycle — r17 missing #4): q314 maintained IndexStats
    // only, so a live CRUD corpus served stale phrase/fuzzy results
    // until a batch fold ran. Here each micro-batch folds ALL THREE
    // members (stats remove∘upsert; positional remove∘upsert; variant
    // born/dead term algebra over the before/after df tables) into
    // versioned on-disk artifacts, and the post-stream serve — phrase
    // adjacency off the final positional frame, did-you-mean off the
    // final variant index — must hash-equal the net-corpus recompute.
    // Deletion is load-bearing twice: deletes kill phrase carriers
    // (%3==1 ∩ %7==3) AND exactly exhaust the 'zxdying' carriers, so a
    // stale positional frame still phrase-matches dead docs and a
    // stale variant index still suggests the dead term.
    Q("q321_streaming_cdc_all_members",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val bm = graft.operators.Bm25
        val phrase = " zq0grafted exact phrase marker"
        val base = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 1, lit(phrase)).otherwise(lit("")),
            when(col("doc_id") % 7 === 3 && col("doc_id") % 9 =!= 2,
              lit(" zxdying")).otherwise(lit(""))).as("text"))
        val updates = base.filter(col("doc_id") % 9 === 2)
          .select(lit("U").as("op"), col("doc_id"),
            concat(col("text"), lit(" revision graftcdc pass")).as("text"))
        val inserts = d.filter(col("doc_id") % 3 === 0)
          .select(lit("I").as("op"), (col("doc_id") + 50000L).as("doc_id"),
            concat(col("text"),
              when(col("doc_id") % 6 === 0, lit(" graftcdc novel ingest"))
                .otherwise(lit("")),
              when(col("doc_id") % 12 === 0, lit(phrase))
                .otherwise(lit(""))).as("text"))
        val deletes = d.filter(col("doc_id") % 7 === 3 &&
            col("doc_id") % 9 =!= 2)
          .select(lit("D").as("op"), col("doc_id"),
            lit(null).cast("string").as("text"))
        val cdc = updates.unionByName(inserts).unionByName(deletes)
        val inDir = s"/tmp/graft-cdc3-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(cdc, "doc_id", s"$dir/documents_cdc3")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          cdc.repartition(3, col("op")).write.mode("overwrite")
            .parquet(inDir)
        val root = freshRunDir(s"$inDir-state")
        val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", 2)
        val version = new java.util.concurrent.atomic.AtomicInteger(0)
        // PARTITIONED versioned artifacts (r18 verdict fix): each fold
        // touches only the batch's hash(id)/hash(term) partitions —
        // the positional and tf tables are corpus-sized at 100 TB and
        // must never be rewritten in full per micro-batch
        val ia = graft.operators.IndexArtifact
        val lay = ia.LexicalLayout(s"$root/idx", docParts = 8,
          termParts = 8, withPositional = true, withVariants = true)
        try {
          ia.writeLexicalFull(lay, base, "doc_id", "text", version = 0)
          val schema = spark.read.parquet(inDir).schema
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
            .writeStream
            .option("checkpointLocation", s"$root/chk")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                _: Long) =>
              graft.operators.OperatorCaches.scoped {
                val n = version.get()
                ia.applyCdcLexical(lay, batch, "doc_id", "text", "op",
                  fromVersion = n, toVersion = n + 1)
                version.incrementAndGet()
              }
              ()
            }
            .start()
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
        val fin = ia.readLexicalStats(spark, lay, version.get())
        val finPos = ia.read(spark, lay.root, lay.pos, version.get())
        val finVi = ia.read(spark, lay.root, lay.vi, version.get())
        val ph = bm.phraseMatchesFrom(finPos,
          Seq("zq0grafted", "exact", "phrase", "marker"))
        val queries = Seq(
          (9000001L, "graftcdcs"),  // dist 1 to the BORN term
          (9000002L, "zxdyingz"),   // dist 1 to the DEAD term — nothing
          (9000003L, "qqqqzz"))     // no suggestions
          .toDF("qid", "qtext")
        val dym = bm.didYouMeanFrom(finVi, fin.df, queries,
          "qid", "qtext", k = 3)
        ph.select(lit("phrase").as("leg"), lit(-1L).as("qid"),
            lit(0L).as("rank"), col("id").cast("string").as("key"),
            col("n_occurrences").as("val"))
          .unionByName(dym.select(lit("fuzzy").as("leg"), col("qid"),
            col("rank"), col("suggestion").as("key"), col("df").as("val")))
      },
      Some(s"""WITH net AS (
             |  SELECT doc_id AS id, text
             |    || CASE WHEN doc_id % 3 = 1
             |      THEN ' zq0grafted exact phrase marker' ELSE '' END AS text
             |  FROM documents
             |  WHERE NOT (doc_id % 7 = 3 AND doc_id % 9 <> 2)
             |    AND doc_id % 9 <> 2
             |  UNION ALL
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 3 = 1
             |      THEN ' zq0grafted exact phrase marker' ELSE '' END
             |    || ' revision graftcdc pass'
             |  FROM documents WHERE doc_id % 9 = 2
             |  UNION ALL
             |  SELECT doc_id + 50000, text
             |    || CASE WHEN doc_id % 6 = 0
             |      THEN ' graftcdc novel ingest' ELSE '' END
             |    || CASE WHEN doc_id % 12 = 0
             |      THEN ' zq0grafted exact phrase marker' ELSE '' END
             |  FROM documents WHERE doc_id % 3 = 0),
             |tw AS (SELECT id, string_split_regex(
             |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS w
             |  FROM net),
             |pos AS (SELECT id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS term
             |  FROM (SELECT id, w, unnest(generate_series(1, len(w))) AS i
             |        FROM tw)
             |  WHERE length(w[i]) > 0),
             |m AS (SELECT a.id, a.pos FROM pos a
             |  JOIN pos b ON b.id = a.id AND b.pos = a.pos + 1
             |    AND b.term = 'exact'
             |  JOIN pos c ON c.id = a.id AND c.pos = a.pos + 2
             |    AND c.term = 'phrase'
             |  JOIN pos d ON d.id = a.id AND d.pos = a.pos + 3
             |    AND d.term = 'marker'
             |  WHERE a.term = 'zq0grafted'),
             |occ AS (SELECT id, CAST(count(*) AS BIGINT) AS n
             |  FROM m GROUP BY 1),
             |tfq AS (SELECT id, term FROM pos GROUP BY 1, 2),
             |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             |  FROM tfq GROUP BY 1),
             |${fuzzyMatchCtes("(9000001, 'graftcdcs'),\n    (9000002, 'zxdyingz'), (9000003, 'qqqqzz')")},
             |rk AS (SELECT qid, term AS sug, df, ROW_NUMBER() OVER (
             |    PARTITION BY qid ORDER BY df DESC, term) AS rank
             |  FROM fm)
             |SELECT 'phrase' AS leg, CAST(-1 AS BIGINT) AS qid,
             |  CAST(0 AS BIGINT) AS rank, CAST(id AS VARCHAR) AS key,
             |  n AS val FROM occ
             |UNION ALL
             |SELECT 'fuzzy', qid, CAST(rank AS BIGINT), sug, df
             |FROM rk WHERE rank <= 3""".stripMargin)),

    // QUERY-INDEX CRUD (Bm25.maintainQueryIndex) — the registration
    // scaladocs claim alerts "fold/delete by qid like every other
    // maintained member"; this gates it for BOTH percolator members.
    // Index rows are per-query facts, so the fold is qid algebra:
    // epoch alerts + an added batch − deleted qids, then percolation
    // against the folded index must hash-equal the recompute from the
    // NET alert set (the oracle). Deletion is load-bearing: deleted
    // alerts still have carrier docs in the corpus, so a stale index
    // keeps matching them and moves the hash.
    Q("q324_query_index_crud",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val bm = graft.operators.Bm25
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase))
              .otherwise(lit("")),
            when(col("doc_id") % 20 === 0, lit(" qnotone"))
              .otherwise(lit(""))).as("text"))
        val toks = TextFunctions.tokens(col("text"))
        def boolAlerts(c: org.apache.spark.sql.DataFrame) =
          bm.registerStandingQueries(
            c.select((col("doc_id") + 90000L).as("qid"),
              array_join(slice(toks, 1, 6), " ").as("must_text"),
              when(col("doc_id") % 3 === 0, "qnotone")
                .otherwise(null).cast("string").as("not_text")),
            "qid", "must_text", "not_text")
        val bA = boolAlerts(d.filter(col("doc_id") < 10))
        val bB = boolAlerts(d.filter(col("doc_id") >= 10 &&
          col("doc_id") < 20))
        val bDel = d.filter(col("doc_id") < 20 && col("doc_id") % 2 === 0)
          .select((col("doc_id") + 90000L).as("qid"))
        val bIdx = bm.maintainQueryIndex(
          bm.maintainQueryIndex(bA, bB, bA.select(col("qid")).limit(0)),
          bA.limit(0), bDel)
        def phraseAlerts(c: org.apache.spark.sql.DataFrame) =
          bm.registerStandingPhrases(
            c.filter(size(toks) >= 5)
              .select((col("doc_id") + 96000L).as("qid"),
                array_join(slice(toks, 3, 3), " ").as("phrase_text")),
            "qid", "phrase_text")
        val pA = bm.maintainQueryIndex(
          phraseAlerts(d.filter(col("doc_id") < 15)),
          bm.registerStandingPhrases(
            Seq((95000L, "zq0grafted exact phrase marker"))
              .toDF("qid", "phrase_text"), "qid", "phrase_text"),
          d.limit(0).select(col("doc_id").as("qid")))
        val pB = phraseAlerts(d.filter(col("doc_id") >= 15 &&
          col("doc_id") < 25))
        val pDel = d.filter(col("doc_id") < 25 &&
            (col("doc_id") + 96000L) % 2 === 1)
          .select((col("doc_id") + 96000L).as("qid"))
        val pIdx = bm.maintainQueryIndex(
          bm.maintainQueryIndex(pA, pB, pA.select(col("qid")).limit(0)),
          pA.limit(0), pDel)
        bm.percolate(bIdx, planted, "doc_id", "text")
          .select(lit("bool").as("leg"), col("id"), col("qid"),
            lit(1L).as("val"))
          .unionByName(bm.percolatePhrases(pIdx, planted, "doc_id", "text")
            .select(lit("phrase").as("leg"), col("id"), col("qid"),
              col("n_occurrences").as("val")))
      },
      Some(q324NetPercolationSql)),

    // STREAMING QUERY-INDEX CDC (IndexArtifact.applyCdcQueryIndex) —
    // the LAST index member family without a streaming fold: alert
    // REGISTRATIONS arrive as a CDC stream (op I/U/D carrying the
    // registration fields, one event per qid) and fold per micro-batch
    // into the versioned PARTITIONED query-index artifact (both
    // percolator members ride hash(qid); untouched qid partitions
    // carry by manifest reference — IndexArtifactSpec proves file
    // identity). The stream is CONSTRUCTED to net out to exactly
    // q324's alert sets: the epoch registers WRONG forms (4-token bool
    // musts, a wrong literal phrase), the stream Updates them into
    // shape, Deletes the evens/odds q324 deletes, and Inserts the
    // rest — so the oracle is q324's verbatim and one hash proves
    // streaming fold == batch CRUD == net-set recompute. Every U/D is
    // load-bearing: a dropped update leaves 4-token prefix alerts that
    // match MORE docs; a dropped delete keeps alerts whose carrier
    // docs still exist. Post-stream the members compact to one
    // physical snapshot and GC reclaims the dead versions (throws if
    // the stream produced no versions or GC reclaimed nothing), and
    // percolation serves off the compacted read. Stateless per
    // micro-batch (foreachBatch; intra-qid decidable by construction).
    Q("q333_streaming_query_index_cdc",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val bm = graft.operators.Bm25
        val ia = graft.operators.IndexArtifact
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase))
              .otherwise(lit("")),
            when(col("doc_id") % 20 === 0, lit(" qnotone"))
              .otherwise(lit(""))).as("text"))
        val toks = TextFunctions.tokens(col("text"))
        val notText = when(col("doc_id") % 3 === 0, "qnotone")
          .otherwise(null).cast("string")
        // epoch v0: WRONG forms — 4-token bool musts for doc_id < 10,
        // phrase alerts for doc_id < 15, the marker alert mis-phrased
        val b0 = bm.registerStandingQueries(
          d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 90000L).as("qid"),
              array_join(slice(toks, 1, 4), " ").as("must_text"),
              notText.as("not_text")),
          "qid", "must_text", "not_text")
        val p0 = bm.registerStandingPhrases(
          d.filter(col("doc_id") < 15 && size(toks) >= 5)
            .select((col("doc_id") + 96000L).as("qid"),
              array_join(slice(toks, 3, 3), " ").as("phrase_text"))
            .unionByName(Seq((95000L, "zq0grafted wrong phrase marker"))
              .toDF("qid", "phrase_text")),
          "qid", "phrase_text")
        // the alert-CDC stream — one event per qid, net = q324's sets
        val nullS = lit(null).cast("string")
        val boolU = d.filter(col("doc_id") < 10 && col("doc_id") % 2 === 1)
          .select(lit("U").as("op"), (col("doc_id") + 90000L).as("qid"),
            array_join(slice(toks, 1, 6), " ").as("must_text"),
            notText.as("not_text"), nullS.as("phrase_text"))
        val boolD = d.filter(col("doc_id") < 10 && col("doc_id") % 2 === 0)
          .select(lit("D").as("op"), (col("doc_id") + 90000L).as("qid"),
            nullS.as("must_text"), nullS.as("not_text"),
            nullS.as("phrase_text"))
        val boolI = d.filter(col("doc_id") >= 10 && col("doc_id") < 20 &&
            col("doc_id") % 2 === 1)
          .select(lit("I").as("op"), (col("doc_id") + 90000L).as("qid"),
            array_join(slice(toks, 1, 6), " ").as("must_text"),
            notText.as("not_text"), nullS.as("phrase_text"))
        val phraseU = Seq(("U", 95000L))
          .toDF("op", "qid")
          .select(col("op"), col("qid"), nullS.as("must_text"),
            nullS.as("not_text"),
            lit("zq0grafted exact phrase marker").as("phrase_text"))
        val phraseD = d.filter(col("doc_id") < 15 && col("doc_id") % 2 === 1)
          .select(lit("D").as("op"), (col("doc_id") + 96000L).as("qid"),
            nullS.as("must_text"), nullS.as("not_text"),
            nullS.as("phrase_text"))
        val phraseI = d.filter(col("doc_id") >= 15 && col("doc_id") < 25 &&
            col("doc_id") % 2 === 0 && size(toks) >= 5)
          .select(lit("I").as("op"), (col("doc_id") + 96000L).as("qid"),
            nullS.as("must_text"), nullS.as("not_text"),
            array_join(slice(toks, 3, 3), " ").as("phrase_text"))
        val cdc = boolU.unionByName(boolD).unionByName(boolI)
          .unionByName(phraseU).unionByName(phraseD).unionByName(phraseI)
        val inDir = s"/tmp/graft-qcdc-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(cdc, "qid", s"$dir/documents_qcdc")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          cdc.repartition(3, col("op")).write.mode("overwrite")
            .parquet(inDir)
        val root = freshRunDir(s"$inDir-state")
        val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", 2)
        val version = new java.util.concurrent.atomic.AtomicInteger(0)
        val lay = ia.QueryLayout(s"$root/qidx", qidParts = 8)
        try {
          ia.writeQueryFull(lay, b0, p0, version = 0)
          val schema = spark.read.parquet(inDir).schema
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
            .writeStream
            .option("checkpointLocation", s"$root/chk")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                _: Long) =>
              graft.operators.OperatorCaches.scoped {
                val n = version.get()
                ia.applyCdcQueryIndex(lay, batch, "op", "qid",
                  "must_text", "not_text", "phrase_text",
                  fromVersion = n, toVersion = n + 1)
                version.incrementAndGet()
              }
              ()
            }
            .start()
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
        val vN = version.get()
        require(vN > 0, "q333: the alert stream produced zero versions " +
          "— the CDC input dir is empty")
        // long-running-stream hygiene: compact both members, then GC —
        // a GC that reclaims nothing means the compaction leg is dead
        ia.compact(spark, lay.root, lay.qbool, vN, vN + 1)
        ia.compact(spark, lay.root, lay.qphrase, vN, vN + 1)
        val gone = ia.gcBelow(spark, lay.root, lay.qbool, vN + 1) ++
          ia.gcBelow(spark, lay.root, lay.qphrase, vN + 1)
        require(gone.nonEmpty, "q333: compaction leg is dead — GC " +
          "reclaimed no version directory after compacting")
        val bIdx = ia.read(spark, lay.root, lay.qbool, vN + 1)
        val pIdx = ia.read(spark, lay.root, lay.qphrase, vN + 1)
        bm.percolate(bIdx, planted, "doc_id", "text")
          .select(lit("bool").as("leg"), col("id"), col("qid"),
            lit(1L).as("val"))
          .unionByName(bm.percolatePhrases(pIdx, planted, "doc_id", "text")
            .select(lit("phrase").as("leg"), col("id"), col("qid"),
              col("n_occurrences").as("val")))
      },
      Some(q324NetPercolationSql)),

    // TIME-TRAVEL SERVE off the versioned partitioned artifact: the
    // manifest store retains every version until GC, so a reader can
    // pin ANY live version — this gates that the pin is load-bearing
    // for real serve paths, not just the read-back identity
    // IndexArtifactSpec proves. Epoch v0 → two CDC folds (v1: one
    // insert/update/delete wave; v2: a wave that DELETES the
    // phrase-marker carriers and re-texts the zxsingular docs), then
    // BM25 top-k and phrase matching served AT v1 and AT v2 — each
    // hash-equal to a recompute over the corpus AS OF that version
    // (the oracle replays both corpus states). The v1 read happens
    // AFTER v2 exists — snapshot isolation, the property that lets a
    // long-running reader keep a consistent index view while folds
    // land. Version skew is load-bearing three ways: v2 loses the
    // original marker docs (phrase leg shrinks to the inserted
    // copies), 'ttrevision' df shifts (idf moves every score), and a
    // v1-vs-v2 mixup moves both legs.
    Q("q334_time_travel_serve",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val bm = graft.operators.Bm25
        val ia = graft.operators.IndexArtifact
        val lay = ttArtifact(spark, dir, compacted = false)
        val queries = Seq((9000001L, "zq0grafted marker"),
          (9000002L, "zxsingular ttrevision")).toDF("qid", "qtext")
        // read v1 AFTER v2 landed — the time-travel pin
        Seq(1, 2).map { v =>
          val s = ia.readLexicalStats(spark, lay, v)
          val pos = ia.read(spark, lay.root, lay.pos, v)
          bm.topKExternalStats(s, queries, "qid", "qtext", k = 5)
            .select(lit("bm25").as("leg"), lit(v.toLong).as("ver"),
              col("qid"), col("rank"), col("id"),
              col("score_micro").as("val"))
            .unionByName(bm.phraseMatchesFrom(pos,
                Seq("zq0grafted", "exact", "phrase", "marker"))
              .select(lit("phrase").as("leg"), lit(v.toLong).as("ver"),
                lit(-1L).as("qid"), lit(0L).as("rank"), col("id"),
                col("n_occurrences").as("val")))
        }.reduce(_.unionByName(_))
      },
      Some {
        val qtVals =
          """SELECT qid, term FROM (VALUES
            |  (9000001, 'zq0grafted'), (9000001, 'marker'),
            |  (9000002, 'zxsingular'), (9000002, 'ttrevision'))
            |  t(qid, term)""".stripMargin
        "WITH " + zxPlantedCte + s""",
             |c1 AS (
             |  SELECT doc_id AS id, text || CASE WHEN doc_id % 5 = 3
             |      THEN ' ttrevision one' ELSE '' END AS text
             |  FROM pl WHERE doc_id % 5 <> 4
             |  UNION ALL
             |  SELECT doc_id + 70000, text || ' ttinsert alpha'
             |  FROM pl WHERE doc_id % 5 = 0),
             |c2 AS (
             |  SELECT doc_id AS id, text
             |    || CASE WHEN doc_id % 9 = 0 THEN ' ttrevision two'
             |      WHEN doc_id % 5 = 3 THEN ' ttrevision one' ELSE '' END
             |      AS text
             |  FROM pl WHERE doc_id % 5 <> 4 AND doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 70000, text || ' ttinsert alpha'
             |  FROM pl WHERE doc_id % 5 = 0),
             |""".stripMargin +
          bm25ScoreCtes("c1", "id", "", p = "v1",
            qtOverride = Some(qtVals)) + ",\n" +
          bm25ScoreCtes("c2", "id", "", p = "v2",
            qtOverride = Some(qtVals)) + ",\n" +
          phraseLegCtes("w1", "c1") + ",\n" + phraseLegCtes("w2", "c2") +
          s""",
             |r1 AS (SELECT qid, id, score_micro, ROW_NUMBER() OVER (
             |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
             |  FROM v1sc),
             |r2 AS (SELECT qid, id, score_micro, ROW_NUMBER() OVER (
             |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
             |  FROM v2sc)
             |SELECT 'bm25' AS leg, CAST(1 AS BIGINT) AS ver,
             |  CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
             |  id, score_micro AS val FROM r1 WHERE rank <= 5
             |UNION ALL
             |SELECT 'bm25', 2, qid, CAST(rank AS BIGINT), id, score_micro
             |FROM r2 WHERE rank <= 5
             |UNION ALL
             |SELECT 'phrase', 1, -1, 0, id, n FROM w1occ
             |UNION ALL
             |SELECT 'phrase', 2, -1, 0, id, n FROM w2occ""".stripMargin
      }),

    // CROSS-MEMBER CONSISTENCY AUDIT (Bm25.auditLexicalIndex): nine
    // violation counts over the lexical index's six members — the
    // integrity check a serving team runs before trusting a fold
    // history (every member derives from every other; disagreement
    // means a dropped/replayed/half-applied fold). The healthy leg
    // audits a freshly built index (nine zeros — proving the auditor
    // raises no false positives, i.e. all members tokenize on ONE
    // basis); the corrupted leg plants seven independent corruptions
    // (dl rows dropped, a ghost dl doc, df inflated on the planted
    // zxaudit terms, totals._T shifted, first-position rows dropped,
    // variant rows of the planted terms dropped, a ghost variant) and
    // every check must fire with the EXACT count the oracle derives
    // from the corpus. Checks are pairwise-disjoint by construction
    // (e.g. pos_orphans hits the %17 docs, pos_len_mismatch the
    // %13∖%17 docs).
    Q("q335_index_consistency_audit",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val bm = graft.operators.Bm25
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 11 === 0,
              concat(lit(" zxaudit"), (col("doc_id") % 5).cast("string")))
              .otherwise(lit(""))).as("text"))
        val s = bm.indexStats(planted, "doc_id", "text")
        val pos = graft.operators.OperatorCaches.track(
          bm.positionalPostings(planted, "doc_id", "text").persist())
        val vi = graft.operators.OperatorCaches.track(
          bm.variantIndex(s.df).persist())
        val healthy = bm.auditLexicalIndex(s, pos, vi)
        val cdl = s.dl.filter(col("id") % 17 =!= 0)
          .unionByName(Seq((999999991L, 7L)).toDF("id", "dl"))
        val cdf = s.df.withColumn("df",
          when(col("term").startsWith("zxaudit"), col("df") + 1)
            .otherwise(col("df")))
        val ctot = s.totals.select((col("_T") + 5).as("_T"), col("_N"))
        val cpos = pos.filter(!(col("id") % 13 === 0 &&
          col("id") % 17 =!= 0 && col("pos") === 0))
        val cvi = vi.filter(!col("term").startsWith("zxaudit"))
          .unionByName(Seq(("zzghost", "zzghost")).toDF("term", "_v"))
        val corrupted = bm.auditLexicalIndex(
          bm.IndexStats(s.tf, cdl, cdf, ctot), cpos, cvi)
        healthy.select(lit("healthy").as("leg"), col("check"),
            col("violations"))
          .unionByName(corrupted.select(lit("corrupted").as("leg"),
            col("check"), col("violations")))
      },
      Some("""WITH checks("check") AS (VALUES ('tf_ids_without_dl'),
             |  ('dl_ids_without_tf'), ('df_mismatch'),
             |  ('totals_t_mismatch'), ('pos_orphans'),
             |  ('pos_len_mismatch'), ('pos_tf_mismatch'),
             |  ('vi_missing_terms'), ('vi_stale_terms')),
             |n17 AS (SELECT CAST(count(*) AS BIGINT) AS v
             |  FROM documents WHERE doc_id % 17 = 0),
             |n1313 AS (SELECT CAST(count(*) AS BIGINT) AS v
             |  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 17 <> 0),
             |nzx AS (SELECT CAST(count(DISTINCT doc_id % 5) AS BIGINT) AS v
             |  FROM documents WHERE doc_id % 11 = 0)
             |SELECT 'healthy' AS leg, "check", CAST(0 AS BIGINT) AS violations
             |FROM checks
             |UNION ALL
             |SELECT 'corrupted', "check",
             |  CASE "check"
             |    WHEN 'tf_ids_without_dl' THEN (SELECT v FROM n17)
             |    WHEN 'dl_ids_without_tf' THEN 1
             |    WHEN 'df_mismatch' THEN (SELECT v FROM nzx)
             |    WHEN 'totals_t_mismatch' THEN 1
             |    WHEN 'pos_orphans' THEN (SELECT v FROM n17)
             |    WHEN 'pos_len_mismatch' THEN (SELECT v FROM n1313)
             |    WHEN 'pos_tf_mismatch' THEN (SELECT v FROM n1313)
             |    WHEN 'vi_missing_terms' THEN (SELECT v FROM nzx)
             |    WHEN 'vi_stale_terms' THEN 1
             |  END AS violations
             |FROM checks""".stripMargin)),

    // INDEX-ARTIFACT VERSION CARD (IndexArtifact.versionCard — the
    // card discipline's seventh instance, on the STORAGE layout
    // itself): per member, current row count plus the version-dir
    // census that GC exists to bound. Fixture = q334's fold history
    // (pre: every member carries three physical versions — epoch +
    // two folds) contrasted with its compacted+GC'd sibling (post:
    // one physical version, rows IDENTICAL — compaction must be
    // row-preserving, which the shared oracle rows prove since both
    // phases replay the same C2 corpus). n_parts / fan_in depend on
    // the key-hash layout, so they are spec-pinned
    // (IndexArtifactSpec) rather than hash-gated here.
    Q("q336_artifact_version_card",
      (spark, dir) => {
        val ia = graft.operators.IndexArtifact
        val layPre = ttArtifact(spark, dir, compacted = false)
        val layPost = ttArtifact(spark, dir, compacted = true)
        def card(lay: ia.LexicalLayout, v: Int, phase: String) =
          Seq(lay.tf, lay.dl, lay.df, lay.totals, lay.pos)
            .map(m => ia.versionCard(spark, lay.root, m, v))
            .reduce(_.unionByName(_))
            .select(lit(phase).as("phase"), col("member"), col("rows"),
              col("n_physical_versions"))
        card(layPre, 2, "pre").unionByName(card(layPost, 3, "post"))
      },
      Some("WITH " + zxPlantedCte + s""",
             |c2 AS (
             |  SELECT doc_id AS id, text
             |    || CASE WHEN doc_id % 9 = 0 THEN ' ttrevision two'
             |      WHEN doc_id % 5 = 3 THEN ' ttrevision one' ELSE '' END
             |      AS text
             |  FROM pl WHERE doc_id % 5 <> 4 AND doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 70000, text || ' ttinsert alpha'
             |  FROM pl WHERE doc_id % 5 = 0),
             |tw AS (SELECT id, string_split_regex(
             |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS w
             |  FROM c2),
             |tk AS (SELECT id, w[i] AS term
             |  FROM (SELECT id, w, unnest(generate_series(1, len(w))) AS i
             |        FROM tw)
             |  WHERE length(w[i]) > 0),
             |rows_of(member, rows) AS (
             |  SELECT 'tf', CAST(count(*) AS BIGINT)
             |  FROM (SELECT DISTINCT id, term FROM tk)
             |  UNION ALL SELECT 'dl', CAST(count(DISTINCT id) AS BIGINT)
             |  FROM tk
             |  UNION ALL SELECT 'df', CAST(count(DISTINCT term) AS BIGINT)
             |  FROM tk
             |  UNION ALL SELECT 'totals', 1
             |  UNION ALL SELECT 'pos', CAST(count(*) AS BIGINT) FROM tk)
             |SELECT p.phase, r.member, r.rows,
             |  CAST(CASE p.phase WHEN 'pre' THEN 3 ELSE 1 END AS BIGINT)
             |    AS n_physical_versions
             |FROM (VALUES ('pre'), ('post')) p(phase), rows_of r"""
        .stripMargin)),

    // PERCOLATOR-INDEX DATA CARD (Bm25.percolatorIndexCard — r18
    // verdict missing #6, the card discipline's fifth instance): one
    // row off the MAINTAINED query index holding the numbers that
    // predict percolation serve cost under rarest-term routing —
    // routing-term df quantiles (the cost model: work is
    // Σ_q df(route) · |terms|), the worst single alert, the worst
    // shared posting probe (fanout), alert counts per member, and the
    // contradictory-alert hygiene count. Fixture = q324's CRUD folds
    // (deletion-aware: the card reads the folded indexes, so every
    // field moves with a stale fold) plus q315's contradictory alert
    // (must ∩ mustNot = 'qnotone') so n_contradictory is load-bearing.
    // Oracle replays the NET alert sets, the epoch df census, the
    // min-df routing rule, and the exact-quantile census.
    Q("q331_percolator_index_card",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val bm = graft.operators.Bm25
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase))
              .otherwise(lit("")),
            when(col("doc_id") % 20 === 0, lit(" qnotone"))
              .otherwise(lit(""))).as("text"))
        val toks = TextFunctions.tokens(col("text"))
        def alertsOf(c: org.apache.spark.sql.DataFrame) =
          c.select((col("doc_id") + 90000L).as("qid"),
            array_join(slice(toks, 1, 6), " ").as("must_text"),
            when(col("doc_id") % 3 === 0, "qnotone")
              .otherwise(null).cast("string").as("not_text"))
        val bA = bm.registerStandingQueries(
          alertsOf(d.filter(col("doc_id") < 10))
            .unionByName(Seq((90100L, "the qnotone", "qnotone"))
              .toDF("qid", "must_text", "not_text")),
          "qid", "must_text", "not_text")
        val bB = bm.registerStandingQueries(
          alertsOf(d.filter(col("doc_id") >= 10 && col("doc_id") < 20)),
          "qid", "must_text", "not_text")
        val bDel = d.filter(col("doc_id") < 20 && col("doc_id") % 2 === 0)
          .select((col("doc_id") + 90000L).as("qid"))
        val bIdx = bm.maintainQueryIndex(
          bm.maintainQueryIndex(bA, bB, bA.select(col("qid")).limit(0)),
          bA.limit(0), bDel)
        def phraseAlerts(c: org.apache.spark.sql.DataFrame) =
          bm.registerStandingPhrases(
            c.filter(size(toks) >= 5)
              .select((col("doc_id") + 96000L).as("qid"),
                array_join(slice(toks, 3, 3), " ").as("phrase_text")),
            "qid", "phrase_text")
        val pA = bm.maintainQueryIndex(
          phraseAlerts(d.filter(col("doc_id") < 15)),
          bm.registerStandingPhrases(
            Seq((95000L, "zq0grafted exact phrase marker"))
              .toDF("qid", "phrase_text"), "qid", "phrase_text"),
          d.limit(0).select(col("doc_id").as("qid")))
        val pB = phraseAlerts(d.filter(col("doc_id") >= 15 &&
          col("doc_id") < 25))
        val pDel = d.filter(col("doc_id") < 25 &&
            (col("doc_id") + 96000L) % 2 === 1)
          .select((col("doc_id") + 96000L).as("qid"))
        val pIdx = bm.maintainQueryIndex(
          bm.maintainQueryIndex(pA, pB, pA.select(col("qid")).limit(0)),
          pA.limit(0), pDel)
        val dfTable = bm.indexStats(planted, "doc_id", "text").df
        bm.percolatorIndexCard(bIdx, pIdx, dfTable)
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text || CASE WHEN doc_id % 14 = 0
             |    THEN ' zq0grafted exact phrase marker zq0grafted exact phrase marker'
             |    WHEN doc_id % 7 = 0
             |    THEN ' zq0grafted exact phrase marker' ELSE '' END
             |    || CASE WHEN doc_id % 20 = 0 THEN ' qnotone' ELSE '' END
             |    AS text
             |  FROM documents),
             |tw AS (SELECT doc_id, string_split_regex(
             |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS w
             |  FROM corpus),
             |dt AS (SELECT DISTINCT doc_id AS id, w[i] AS term
             |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
             |        FROM tw)
             |  WHERE length(w[i]) > 0),
             |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             |  FROM dt GROUP BY 1),
             |qm AS (${prefixQueryTerms(90000, 6, "doc_id < 20 AND doc_id % 2 = 1")}
             |  UNION SELECT qid, term FROM (VALUES (90100, 'the'),
             |    (90100, 'qnotone')) t(qid, term)),
             |qn AS (SELECT doc_id + 90000 AS qid, 'qnotone' AS term
             |  FROM documents
             |  WHERE doc_id < 20 AND doc_id % 3 = 0 AND doc_id % 2 = 1
             |  UNION ALL SELECT 90100, 'qnotone'),
             |qtw AS (SELECT doc_id, string_split_regex(
             |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS w
             |  FROM documents WHERE doc_id < 25 AND doc_id % 2 = 0),
             |qx AS (SELECT doc_id + 96000 AS qid, w[i] AS term
             |  FROM (SELECT doc_id, w, unnest(generate_series(3, 5)) AS i
             |        FROM qtw WHERE len(w) >= 5)
             |  WHERE length(w[i]) > 0
             |  UNION ALL
             |  SELECT 95000, term
             |  FROM (VALUES ('zq0grafted'), ('exact'), ('phrase'),
             |    ('marker')) v(term)),
             |rterms AS (
             |  SELECT 'bool' AS kind, qid, term FROM qm
             |  UNION ALL
             |  SELECT 'phrase', qid, term
             |  FROM (SELECT DISTINCT qid, term FROM qx)),
             |route AS (SELECT kind, qid, term, df FROM (
             |  SELECT t.kind, t.qid, t.term, coalesce(d.df, 0) AS df,
             |    ROW_NUMBER() OVER (PARTITION BY t.kind, t.qid
             |      ORDER BY coalesce(d.df, 0), t.term) AS rn
             |  FROM rterms t LEFT JOIN dfq d ON d.term = t.term)
             |  WHERE rn = 1),
             |rdc AS (SELECT df AS v, count(*) AS c FROM route GROUP BY 1),
             |rcum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cc FROM rdc),
             |rtot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM route),
             |rp50 AS (SELECT min(v) AS v FROM rcum, rtot
             |  WHERE cc >= (n * 50 + 99) // 100),
             |rp90 AS (SELECT min(v) AS v FROM rcum, rtot
             |  WHERE cc >= (n * 90 + 99) // 100),
             |rfan AS (SELECT CAST(max(c) AS BIGINT) AS v FROM (
             |  SELECT term, count(*) AS c FROM route GROUP BY 1)),
             |ncontra AS (SELECT CAST(count(DISTINCT m.qid) AS BIGINT) AS v
             |  FROM qm m JOIN qn n ON n.qid = m.qid AND n.term = m.term)
             |SELECT
             |  (SELECT CAST(count(DISTINCT qid) AS BIGINT) FROM qm)
             |    AS n_bool_alerts,
             |  (SELECT CAST(count(DISTINCT qid) AS BIGINT) FROM qx)
             |    AS n_phrase_alerts,
             |  ncontra.v AS n_contradictory,
             |  CAST(rp50.v AS BIGINT) AS route_df_p50,
             |  CAST(rp90.v AS BIGINT) AS route_df_p90,
             |  (SELECT CAST(max(df) AS BIGINT) FROM route) AS max_route_df,
             |  rfan.v AS max_route_fanout
             |FROM ncontra, rp50, rp90, rfan""".stripMargin)),

    // HARD-NEGATIVE MINING for retrieval training (Bm25.hardNegatives)
    // — the DPR/Contriever recipe: per query doc the top-5 BM25
    // candidates EXCLUDING the query's own duplicate group (q77's
    // exact∪near closure) — a near-dup of the query is a mislabeled
    // positive ("false negative"), and training a bi-encoder on it
    // pushes true matches apart. On the doubled corpus every query's
    // exact twin (+10000) would be the #1 BM25 hit — the exclusion
    // must drop it, so the gate pins both the score machinery AND the
    // group filter. Ranks dense AFTER exclusion. Oracle = the shared
    // closure CTEs + the factored q210 chain ('b' prefix) + the
    // exclusion join.
    Q("q224_hard_negatives",
      (spark, dir) => {
        val corpus = doubled(spark, dir)
        val groups = DedupGroups.groupRegistry(corpus, "doc_id", "text")
        graft.operators.Bm25.hardNegatives(corpus, "doc_id", "text",
          col("id") < 20, groups, k = 5)
      },
      Some(edgeClosureCtes(
        """SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 10000 AS id, text FROM documents""".stripMargin,
        rounds = 4) +
        ",\n" + bm25ScoreCtes("corpus", "id", "id < 20", "b") +
        """,
          |glab AS (SELECT c.id, coalesce(l.g, c.id) AS g
          |  FROM corpus c LEFT JOIN l2 l ON l.id = c.id),
          |negs AS (SELECT s.qid, s.id, s.score_micro
          |  FROM bsc s JOIN glab gq ON gq.id = s.qid
          |    JOIN glab gd ON gd.id = s.id
          |  WHERE gq.g <> gd.g),
          |nrk AS (SELECT qid, id, score_micro,
          |    row_number() OVER (PARTITION BY qid
          |      ORDER BY score_micro DESC, id) AS neg_rank
          |  FROM negs)
          |SELECT qid, CAST(neg_rank AS BIGINT) AS neg_rank, id, score_micro
          |FROM nrk WHERE neg_rank <= 5""".stripMargin)),

    // TOP DUPLICATED WINDOWS (Dedup.topDuplicatedWindows) — the
    // reconnaissance report over the anchored-window index: the 20
    // most-repeated 64-char windows with occurrence/doc counts and a
    // readable example, i.e. "what boilerplate dominates my corpus"
    // BEFORE choosing line dedup vs span excision. Fixture appends a
    // 150-char cookie-banner sentence to every %5==0 doc — its anchored
    // windows must own the top of the report (~100 docs at sf0.001);
    // natural repeats fill the tail. Total order (n_total DESC,
    // example_id, example_pos); the oracle replays the window index,
    // the per-hash first occurrence, and the substr.
    Q("q228_top_duplicated_windows",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = d.select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(q228Banner)))
            .otherwise(col("text")).as("text"))
        graft.operators.Dedup.topDuplicatedWindows(corpus, "doc_id", "text")
      },
      Some(s"""WITH corpus AS (SELECT doc_id AS id,
             |    CASE WHEN doc_id % 5 = 0 THEN text || '$q228Banner'
             |      ELSE text END AS text
             |  FROM documents),
             |${spanWindowCtes("corpus", "d")},
             |stats AS (SELECT h, CAST(count(*) AS BIGINT) AS n_total,
             |    CAST(count(DISTINCT id) AS BIGINT) AS n_docs
             |  FROM dwins GROUP BY h HAVING count(*) >= 2),
             |ex AS (SELECT h, id, i FROM (SELECT h, id, i,
             |      row_number() OVER (PARTITION BY h ORDER BY id, i) AS rn
             |    FROM dwins)
             |  WHERE rn = 1)
             |SELECT s.n_total, s.n_docs, e.id AS example_id,
             |  CAST(e.i AS BIGINT) AS example_pos,
             |  substr(c.text, e.i, 64) AS window_text
             |FROM stats s JOIN ex e USING (h) JOIN corpus c ON c.id = e.id
             |ORDER BY s.n_total DESC, example_id, example_pos
             |LIMIT 20""".stripMargin)),

    // QUERY-AT-INGEST BM25 (Bm25.topKExternal) — EXTERNAL query docs
    // scored against the epoch corpus's static index: idf/avgdl/T/N
    // are the epoch's statistics, incoming docs pay only the
    // posting-list join (the q174/q209 epoch-index discipline applied
    // to retrieval; in production the contrib table is saved bucketed
    // on term). Queries = the first 25 tokens of docs 0..9 re-keyed to
    // +80000 — a verbatim prefix snippet long enough to carry rare
    // terms, so the source doc surfaces despite the length-
    // normalization penalty; the gate hashes the full ranking.
    Q("q227_bm25_query_at_ingest",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val queries = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 80000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
        graft.operators.Bm25.topKExternal(d, "doc_id", "text",
          queries, "qid", "qtext", k = 10)
      },
      Some("WITH " + bm25ScoreCtes("documents", "doc_id", "", qtOverride = Some(
        prefixQueryTerms(80000, 25, "doc_id < 10"))) +
        ",\n" + rankedTop10Tail("sc"))),

    // CHUNK-LEVEL RAG RETRIEVAL (Curation.chunkTexts + Bm25.topKExternal)
    // — the retrieval shape a RAG pipeline actually serves: the corpus
    // is chunked (128 lexer tokens, 32 overlap; chunk_key = doc·2^20 +
    // idx so hits round-trip to (doc, chunk)), the BM25 index is built
    // over CHUNKS (chunk-level idf/avgdl — retrieval granularity is
    // the chunk, not the doc), and external queries (25-token prefixes
    // of docs 0..4, re-keyed +9e6; external qids are a separate key
    // space — Bm25 applies no self-exclusion on this path) rank
    // the top-10 chunks. The oracle materializes the same chunk table
    // and reuses the factored BM25 chain over it.
    Q("q237_chunk_rag_retrieval",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val chunks = graft.operators.Curation.chunkTexts(
          d, "doc_id", "text", 128, 32)
        val queries = d.filter(col("doc_id") < 5)
          .select((col("doc_id") + 9000000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
        graft.operators.Bm25.topKExternal(chunks, "chunk_key", "chunk_text",
          queries, "qid", "qtext", k = 10)
      },
      Some("WITH " +
        """ctoks AS (SELECT doc_id, regexp_extract_all(text, '\w+|[^\w\s]') AS t
          |  FROM documents),
          |cst AS (SELECT doc_id, t, len(t) AS n FROM ctoks WHERE len(t) > 0),
          |cnc AS (SELECT doc_id, t, n, CASE WHEN n <= 128 THEN 1
          |    ELSE (n - 128 + 95) // 96 + 1 END AS n_chunks FROM cst),
          |cch AS (SELECT doc_id, t, n,
          |    unnest(generate_series(0, n_chunks - 1)) AS ci FROM cnc),
          |chunks AS (SELECT doc_id * 1048576 + ci AS chunk_key,
          |    array_to_string(t[ci*96 + 1 : ci*96 + least(128, n - ci*96)], ' ')
          |      AS text
          |  FROM cch),
          |""".stripMargin +
        bm25ScoreCtes("chunks", "chunk_key", "", "b", qtOverride = Some(
          prefixQueryTerms(9000000, 25, "doc_id < 5"))) +
        ",\n" + rankedTop10Tail("bsc"))),

    // HYBRID CHUNK RETRIEVAL (q237's BM25 leg + a dense leg, fused by
    // q151's integer RRF) — the full RAG retrieval stack at CHUNK
    // granularity: the lexical leg is the q237 chunk-level BM25 index;
    // the dense leg embeds every chunk (and query) as a 64-bucket
    // fnv1a64-hashed term-count vector and retrieves via SRP-LSH
    // (16 planes, 4-bit bands — candidates share a band bucket, exact
    // cosine rerank inside; the q41 machinery over derived vectors).
    // Both legs emit ranks only; reciprocal-rank fusion is exact
    // integer micro-units (1e9 DIV (60 + rank)), so the fused ranking
    // is deterministic end-to-end. Plan shape: posting join (lexical) +
    // band-bucket join (dense) — never query × chunks. The oracle
    // replays chunking, both featurizations, the Rademacher signature
    // matrix, and the fusion, bit-for-bit.
    Q("q241_hybrid_chunk_retrieval",
      (spark, dir) => hybridChunkRanks(spark, dir),
      Some(hybridChunkOracleChain +
        """
          |SELECT qid, nid, rrf, CAST(rank AS INT) AS rank
          |FROM rankedf WHERE rank <= 10""".stripMargin)),

    // RAG CONTEXT ASSEMBLY (Fusion.assembleContext over the q241 fused
    // ranking) — the last step of the retrieval path: per query, pack
    // the ranked chunks into a 384-token context under doc-dedup (only
    // the best chunk of each parent doc) and prefix-stop budget
    // semantics. Completes retrieve → fuse → assemble end-to-end; the
    // oracle extends the full q241 replay with the dedup window, the
    // running token sum, and the budget cut.
    Q("q246_rag_context_assembly",
      (spark, dir) => {
        // one chunk pass: the token census reads the SAME persisted
        // chunks frame the ranking legs featurize (r19 opt — previously
        // a second chunkTexts ran just for chunk_tokens)
        val (chunks, _, lex, dense) = hybridLegs(spark, dir)
        val ctoks = chunks.select(col("chunk_key"),
          size(split(col("chunk_text"), " ")).cast("long").as("chunk_tokens"))
        graft.operators.Fusion.assembleContext(
          graft.operators.Fusion.rrfTopK(Seq(lex, dense), k = 10)
            .select(col("qid"), col("nid"), col("rank")),
          ctoks, budgetTokens = 384)
      },
      Some(ragContextOracle)),

    // DENSE-LEG RECALL AUDIT (q241's SRP-LSH leg vs brute-force truth)
    // — the q112/q226 measurement discipline applied to the hybrid
    // stack: how much of the TRUE cosine top-10 neighborhood (over the
    // same 64-bucket hashed chunk vectors) does the banded
    // approximation keep per query? The number that justifies (or
    // revokes) trusting the fast leg at scale. Oracle extends the
    // shared chain with the brute all-pairs truth and the recall join;
    // the chain's unreferenced BM25/fusion CTEs are dead (DuckDB
    // inlines non-MATERIALIZED CTEs on use).
    Q("q247_dense_leg_recall",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val chunks = graft.operators.Curation.chunkTexts(
          d, "doc_id", "text", 128, 32)
        val queries = d.filter(col("doc_id") < 5)
          .select((col("doc_id") + 9000000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
        // cvecs feeds BOTH the brute-truth leg and the SRP leg — persist
        // the chunk featurization once (r20 duplicate-subtree audit)
        val qvecs = graft.operators.OperatorCaches.track(
          hashedCountVecs(queries, "qid", "qtext").persist())
        val cvecs = graft.operators.OperatorCaches.track(
          hashedCountVecs(chunks, "chunk_key", "chunk_text").persist())
        val truth = graft.operators.Similarity.bruteTopK(qvecs, cvecs, 10)
          .select(col("qid"), col("nid"))
        val approx = graft.operators.Similarity.srpTopK(qvecs, cvecs, 10)
          .select(col("qid"), col("nid"), lit(1).as("hit"))
        truth.join(approx, Seq("qid", "nid"), "left")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"),
            round(sum(coalesce(col("hit"), lit(0))).cast("double")
              / count(lit(1)), 4).as("recall"))
      },
      Some(hybridChunkOracleChain +
        """,
          |btr AS (SELECT q.id AS qid, c.id AS nid,
          |    list_dot_product(q.v, c.v) /
          |      (sqrt(list_dot_product(q.v, q.v)) *
          |       sqrt(list_dot_product(c.v, c.v))) AS sim
          |  FROM qvec q JOIN cvec c ON q.id <> c.id),
          |btrk AS (SELECT qid, nid FROM (SELECT qid, nid,
          |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
          |  FROM btr) WHERE rk <= 10),
          |apx AS (SELECT qid, nid FROM dlex WHERE rank <= 10)
          |SELECT t.qid, CAST(count(*) AS BIGINT) AS n_true,
          |  CAST(count(a.nid) AS BIGINT) AS n_hit,
          |  round(CAST(count(a.nid) AS DOUBLE) / count(*), 4) AS recall
          |FROM btrk t LEFT JOIN apx a ON a.qid = t.qid AND a.nid = t.nid
          |GROUP BY t.qid""".stripMargin)),

    // RETRIEVAL EVALUATION HARNESS — the MRR / hit@k scorecard a
    // retrieval pipeline ships with: each q241 query is a 25-token
    // prefix of a known document (qid − 9e6 = the source doc), so
    // relevance is labeled BY CONSTRUCTION (a hit = any chunk of the
    // source doc). The three legs — chunk BM25, SRP dense, RRF hybrid
    // — are scored side by side: mean reciprocal rank in exact integer
    // micro-units (Σ 1e6 DIV first_hit_rank, then DIV n_queries — no
    // float averaging to drift) plus hit@1 and hit@10 counts. The
    // scorecard that justifies shipping the hybrid: it must dominate
    // or match both single legs. Oracle extends the shared chain with
    // the same first-hit/aggregate arithmetic per leg.
    Q("q250_retrieval_eval",
      (spark, dir) => {
        // legs are consumed twice (per-leg metrics + fusion input) —
        // persist them instead of running the whole chunk/posting/SRP
        // pipeline a second time inside hybridChunkRanks (r19 opt)
        val (_, queries, lex0, dense0) = hybridLegs(spark, dir)
        val lexR = graft.operators.OperatorCaches.track(lex0.persist())
        val denseR = graft.operators.OperatorCaches.track(dense0.persist())
        val fused = graft.operators.Fusion.rrfTopK(Seq(lexR, denseR), k = 10)
          .select(col("qid"), col("nid"), col("rank"), lit("hybrid").as("leg"))
        val lex = lexR.select(col("qid"), col("nid"), col("rank"),
          lit("bm25").as("leg"))
        val dense = denseR.select(col("qid"), col("nid"), col("rank"),
          lit("dense").as("leg"))
        lex.unionByName(dense).unionByName(fused)
          .withColumn("rel",
            when(expr("nid DIV 1048576") === col("qid") - 9000000L, 1L)
              .otherwise(0L))
          .filter(col("rel") === 1L)
          .groupBy(col("leg"), col("qid"))
          .agg(min(col("rank")).as("first_hit"))
          .groupBy(col("leg"))
          .agg(count(lit(1)).as("n_hit_queries"),
            expr("CAST(sum(1000000 DIV first_hit) AS BIGINT)").as("rr_sum_micro"),
            sum(when(col("first_hit") === 1, 1L).otherwise(0L)).as("hit_at_1"))
          // the labeled query count rides as a 1-row broadcast (never a
          // driver action inside a lazy builder)
          .crossJoin(broadcast(queries.agg(count(lit(1)).as("_nq"))))
          .select(col("leg"), col("n_hit_queries"), col("hit_at_1"),
            col("n_hit_queries").as("hit_at_10"),
            expr("CAST(rr_sum_micro DIV _nq AS BIGINT)").as("mrr_micro"))
      },
      Some(hybridChunkOracleChain +
        """,
          |legs AS (
          |  SELECT 'bm25' AS leg, qid, nid, rank FROM blex WHERE rank <= 10
          |  UNION ALL
          |  SELECT 'dense', qid, nid, rank FROM dlex WHERE rank <= 10
          |  UNION ALL
          |  SELECT 'hybrid', qid, nid, rank FROM rankedf WHERE rank <= 10),
          |hits AS (SELECT leg, qid, min(rank) AS first_hit
          |  FROM legs WHERE nid // 1048576 = qid - 9000000
          |  GROUP BY leg, qid),
          |nq AS (SELECT CAST(count(*) AS BIGINT) AS n
          |  FROM documents WHERE doc_id < 5)
          |SELECT leg, CAST(count(*) AS BIGINT) AS n_hit_queries,
          |  CAST(sum(CASE WHEN first_hit = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS hit_at_1,
          |  CAST(count(*) AS BIGINT) AS hit_at_10,
          |  CAST(CAST(sum(1000000 // first_hit) AS BIGINT)
          |    // (SELECT n FROM nq) AS BIGINT) AS mrr_micro
          |FROM hits GROUP BY leg""".stripMargin)),

    // RETRIEVAL nDCG@10 — the graded companion to q250's MRR/hit@k:
    // binary relevance (a chunk of the query's source doc), DCG =
    // Σ w(rank), IDCG = the best arrangement of min(n_rel, 10)
    // relevant chunks. The log2 discount weights are computed ONCE in
    // Scala (micro-units) and the SAME constants embed in both the
    // Spark plan and the SQL — a libm-ulp divergence between engines'
    // log2 can never reach the gate. Queries with zero hits score 0 via
    // the (leg × query) grid. Per-(leg, qid) rows so the gate pins
    // every cell, not just the mean.
    Q("q281_retrieval_ndcg",
      (spark, dir) => {
        import spark.implicits._
        val wts = ndcgWts
        val idcg = ndcgIdcg
        // legs are consumed twice (per-leg DCG + fusion input) — persist
        // them instead of running the whole chunk/posting/SRP pipeline a
        // second time inside hybridChunkRanks (r19 opt); chunks is shared
        // with the n_rel census below
        val (chunks, queries, lex0, dense0) = hybridLegs(spark, dir)
        val lexR = graft.operators.OperatorCaches.track(lex0.persist())
        val denseR = graft.operators.OperatorCaches.track(dense0.persist())
        val fused = graft.operators.Fusion.rrfTopK(Seq(lexR, denseR), k = 10)
          .select(col("qid"), col("nid"), col("rank"), lit("hybrid").as("leg"))
        val lex = lexR.select(col("qid"), col("nid"), col("rank"),
          lit("bm25").as("leg"))
        val dense = denseR.select(col("qid"), col("nid"), col("rank"),
          lit("dense").as("leg"))
        val wArr = array(wts.map(lit): _*)
        val hits = lex.unionByName(dense).unionByName(fused)
          .filter(expr("nid DIV 1048576") === col("qid") - 9000000L &&
            col("rank") <= 10)
          .withColumn("w", element_at(wArr, col("rank").cast("int")))
          .groupBy(col("leg"), col("qid"))
          .agg(sum(col("w")).as("dcg_micro"))
        val idcgArr = array(idcg.map(lit): _*)
        val nrel = chunks
          .select(expr("chunk_key DIV 1048576").as("d"))
          .filter(col("d") < 5)
          .groupBy(col("d")).agg(count(lit(1)).as("nr"))
          .select((col("d") + 9000000L).as("qid"),
            element_at(idcgArr, least(col("nr"), lit(10L)).cast("int"))
              .as("idcg_micro"))
        val grid = queries.select(col("qid"))
          .crossJoin(broadcast(Seq("bm25", "dense", "hybrid").toDF("leg")))
        grid.join(hits, Seq("leg", "qid"), "left")
          .join(broadcast(nrel), Seq("qid"))
          .select(col("leg"), col("qid"),
            coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
            col("idcg_micro"),
            expr("coalesce(dcg_micro, 0) * 1000000 DIV idcg_micro")
              .as("ndcg_micro"))
      },
      Some(hybridChunkOracleChain +
        s""",
           |legs AS (
           |  SELECT 'bm25' AS leg, qid, nid, rank FROM blex WHERE rank <= 10
           |  UNION ALL
           |  SELECT 'dense', qid, nid, rank FROM dlex WHERE rank <= 10
           |  UNION ALL
           |  SELECT 'hybrid', qid, nid, rank FROM rankedf WHERE rank <= 10),
           |wt(r, w) AS (VALUES ${wtsSql}),
           |icg(j, s) AS (VALUES ${idcgSql}),
           |hts AS (SELECT leg, qid, CAST(sum(w.w) AS BIGINT) AS dcg
           |  FROM legs JOIN wt w ON w.r = legs.rank
           |  WHERE nid // 1048576 = qid - 9000000
           |  GROUP BY leg, qid),
           |nrel AS (SELECT chunk_key // 1048576 AS d, count(*) AS nr
           |  FROM chunks WHERE chunk_key // 1048576 < 5 GROUP BY 1),
           |idcgq AS (SELECT d + 9000000 AS qid, i.s AS idcg
           |  FROM nrel JOIN icg i ON i.j = least(nr, 10)),
           |qgrid AS (SELECT l.leg, q.qid
           |  FROM (VALUES ('bm25'), ('dense'), ('hybrid')) l(leg)
           |  CROSS JOIN (SELECT qid FROM qsrc) q)
           |SELECT g.leg, g.qid,
           |  CAST(coalesce(h.dcg, 0) AS BIGINT) AS dcg_micro,
           |  CAST(iq.idcg AS BIGINT) AS idcg_micro,
           |  CAST(coalesce(h.dcg, 0) * 1000000 // iq.idcg AS BIGINT) AS ndcg_micro
           |FROM qgrid g
           |LEFT JOIN hts h ON h.leg = g.leg AND h.qid = g.qid
           |JOIN idcgq iq ON iq.qid = g.qid""".stripMargin)),

    // INCREMENTAL BM25 INDEX MAINTENANCE (Bm25.upsertIndexStats) — the
    // q161/q174/q209 epoch-index discipline applied to retrieval: the
    // epoch index is kept as the four SUFFICIENT STATISTICS (tf, dl,
    // df, totals — each a pure additive fold), a daily append-only
    // batch upserts them without touching the epoch corpus, and
    // contributions re-derive at query time (storing them would go
    // stale on every batch — idf depends on global df/T/N). Fixture:
    // epoch = docs %3≠0; batch = docs %3=0 re-keyed +50000, a third of
    // them carrying three BRAND-NEW terms (the df-union case); queries
    // = the q227 external set plus one query made of only the new
    // terms (rankable only if the upsert folded them). The DEFINING
    // property IS the gate: the oracle is a FULL RECOMPUTE over
    // epoch ∪ batch — hash equality proves incremental == full.
    Q("q242_incremental_bm25_index",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val epoch = d.filter(col("doc_id") % 3 =!= 0)
        val batch = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 50000L).as("doc_id"),
            when(col("doc_id") % 6 === 0,
              concat(col("text"), lit(" graftupsert novelterm ingestion")))
              .otherwise(col("text")).as("text"))
        val queries = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 80000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
          .unionByName(Seq((80100L, "graftupsert novelterm ingestion"))
            .toDF("qid", "qtext"))
        val stats = graft.operators.Bm25.indexStats(epoch, "doc_id", "text")
        val upserted = graft.operators.Bm25.upsertIndexStats(
          stats, batch, "doc_id", "text")
        graft.operators.Bm25.topKExternalStats(
          upserted, queries, "qid", "qtext", k = 10)
      },
      Some("WITH " +
        """fullc AS (
          |  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 <> 0
          |  UNION ALL
          |  SELECT doc_id + 50000, CASE WHEN doc_id % 6 = 0
          |      THEN text || ' graftupsert novelterm ingestion'
          |      ELSE text END
          |  FROM documents WHERE doc_id % 3 = 0),
          |""".stripMargin +
        bm25ScoreCtes("fullc", "id", "", qtOverride = Some(
          prefixQueryTerms(80000, 25, "doc_id < 10") + """
            |UNION
            |SELECT 80100 AS qid, unnest(
            |  ['graftupsert', 'novelterm', 'ingestion']) AS term""".stripMargin)) +
        ",\n" + rankedTop10Tail("sc"))),

    // INCREMENTAL CHUNK-INDEX MAINTENANCE — q242's discipline at q237's
    // granularity: the epoch's CHUNK-LEVEL BM25 statistics upsert with
    // a batch of new documents (chunked on arrival; fresh doc ids keep
    // chunk keys disjoint by the id·2^20 contract), and ranking against
    // the upserted stats must hash-equal a full recompute over the
    // union's chunks — which is exactly what the oracle computes. The
    // composition a daily RAG ingest actually runs: chunk → fold stats
    // → serve.
    Q("q253_incremental_chunk_index",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val epoch = d.filter(col("doc_id") % 4 =!= 0)
        val batch = d.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
        val echunks = graft.operators.Curation.chunkTexts(
          epoch, "doc_id", "text", 128, 32)
        val bchunks = graft.operators.Curation.chunkTexts(
          batch, "doc_id", "text", 128, 32)
        val up = graft.operators.Bm25.upsertIndexStats(
          graft.operators.Bm25.indexStats(echunks, "chunk_key", "chunk_text"),
          bchunks, "chunk_key", "chunk_text")
        val queries = d.filter(col("doc_id") < 5)
          .select((col("doc_id") + 9000000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
        graft.operators.Bm25.topKExternalStats(
          up, queries, "qid", "qtext", k = 10)
      },
      Some("WITH " +
        """ucorp AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
          |  UNION ALL SELECT doc_id + 70000, text FROM documents
          |    WHERE doc_id % 4 = 0),
          |ctoks AS (SELECT doc_id, regexp_extract_all(text, '\w+|[^\w\s]') AS t
          |  FROM ucorp),
          |cst AS (SELECT doc_id, t, len(t) AS n FROM ctoks WHERE len(t) > 0),
          |cnc AS (SELECT doc_id, t, n, CASE WHEN n <= 128 THEN 1
          |    ELSE (n - 128 + 95) // 96 + 1 END AS n_chunks FROM cst),
          |cch AS (SELECT doc_id, t, n,
          |    unnest(generate_series(0, n_chunks - 1)) AS ci FROM cnc),
          |chunks AS (SELECT doc_id * 1048576 + ci AS chunk_key,
          |    array_to_string(t[ci*96 + 1 : ci*96 + least(128, n - ci*96)], ' ')
          |      AS text
          |  FROM cch),
          |""".stripMargin +
        bm25ScoreCtes("chunks", "chunk_key", "", "b", qtOverride = Some(
          prefixQueryTerms(9000000, 25, "doc_id < 5"))) +
        ",\n" + rankedTop10Tail("bsc"))),

    // CHUNK-INDEX DOC DELETION (Bm25.removeDocsFromChunkIndex) — q254's
    // subtract path at q253's granularity: curation deletes DOCS, the
    // index is keyed by chunk, and the affected chunk keys derive from
    // the index itself via the id·2^20 stride contract — no re-chunking,
    // no text touch. Fixture = q253's epoch⊕batch upsert, then every
    // union doc ≡ 1 (mod 5) deleted plus one never-indexed id
    // (idempotence). Oracle = full recompute over the survivors'
    // chunks, hash-equal: remove(upsert(chunk stats)) == re-chunk +
    // re-index of (epoch ∪ batch) ∖ deleted.
    Q("q260_chunk_index_deletion",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val epoch = d.filter(col("doc_id") % 4 =!= 0)
        val batch = d.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 70000L).as("doc_id"), col("text"))
        val echunks = graft.operators.Curation.chunkTexts(
          epoch, "doc_id", "text", 128, 32)
        val bchunks = graft.operators.Curation.chunkTexts(
          batch, "doc_id", "text", 128, 32)
        val up = graft.operators.Bm25.upsertIndexStats(
          graft.operators.Bm25.indexStats(echunks, "chunk_key", "chunk_text"),
          bchunks, "chunk_key", "chunk_text")
        val deleted = epoch.select(col("doc_id"))
          .unionByName(batch.select(col("doc_id")))
          .filter(col("doc_id") % 5 === 1)
          .unionByName(Seq(888888L).toDF("doc_id"))
        val pruned = graft.operators.Bm25.removeDocsFromChunkIndex(
          up, deleted, "doc_id")
        val queries = d.filter(col("doc_id") < 5)
          .select((col("doc_id") + 9000000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
        graft.operators.Bm25.topKExternalStats(
          pruned, queries, "qid", "qtext", k = 10)
      },
      Some("WITH " +
        """ucorp AS (
          |  SELECT doc_id, text FROM documents
          |  WHERE doc_id % 4 <> 0 AND doc_id % 5 <> 1
          |  UNION ALL SELECT doc_id + 70000, text FROM documents
          |    WHERE doc_id % 4 = 0 AND (doc_id + 70000) % 5 <> 1),
          |ctoks AS (SELECT doc_id, regexp_extract_all(text, '\w+|[^\w\s]') AS t
          |  FROM ucorp),
          |cst AS (SELECT doc_id, t, len(t) AS n FROM ctoks WHERE len(t) > 0),
          |cnc AS (SELECT doc_id, t, n, CASE WHEN n <= 128 THEN 1
          |    ELSE (n - 128 + 95) // 96 + 1 END AS n_chunks FROM cst),
          |cch AS (SELECT doc_id, t, n,
          |    unnest(generate_series(0, n_chunks - 1)) AS ci FROM cnc),
          |chunks AS (SELECT doc_id * 1048576 + ci AS chunk_key,
          |    array_to_string(t[ci*96 + 1 : ci*96 + least(128, n - ci*96)], ' ')
          |      AS text
          |  FROM cch),
          |""".stripMargin +
        bm25ScoreCtes("chunks", "chunk_key", "", "b", qtOverride = Some(
          prefixQueryTerms(9000000, 25, "doc_id < 5"))) +
        ",\n" + rankedTop10Tail("bsc"))),

    // DELETION-AWARE INDEX MAINTENANCE (Bm25.removeIndexStats) — the
    // r15 missing #1: the pipeline's own dedup REMOVES documents, so
    // the first real consumer of the incremental index needs the
    // subtract path, not just the append. Fixture runs the full
    // dedup-then-reindex cycle a curated epoch actually performs:
    // build epoch stats → upsert a daily batch (q242's, novel terms
    // included) → REMOVE every id ≡ 2 (mod 7) from the union (epoch
    // and batch rows both hit, including some novelterm carriers — the
    // df-decrement case) plus one id never indexed (delete must be
    // idempotent, not corrupting). The defining property IS the gate:
    // the oracle is a FULL RECOMPUTE over (epoch ∪ batch) ∖ deleted —
    // hash equality proves remove(upsert(stats)) == recompute.
    Q("q254_deletion_aware_index",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val epoch = d.filter(col("doc_id") % 3 =!= 0)
        val batch = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 50000L).as("doc_id"),
            when(col("doc_id") % 6 === 0,
              concat(col("text"), lit(" graftupsert novelterm ingestion")))
              .otherwise(col("text")).as("text"))
        val deleted = epoch.select(col("doc_id"))
          .unionByName(batch.select(col("doc_id")))
          .filter(col("doc_id") % 7 === 2)
          .unionByName(Seq(999999L).toDF("doc_id"))
        val queries = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 80000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
          .unionByName(Seq((80100L, "graftupsert novelterm ingestion"))
            .toDF("qid", "qtext"))
        val upserted = graft.operators.Bm25.upsertIndexStats(
          graft.operators.Bm25.indexStats(epoch, "doc_id", "text"),
          batch, "doc_id", "text")
        val pruned = graft.operators.Bm25.removeIndexStats(
          upserted, deleted, "doc_id")
        graft.operators.Bm25.topKExternalStats(
          pruned, queries, "qid", "qtext", k = 10)
      },
      Some("WITH " +
        """fullc AS (
          |  SELECT doc_id AS id, text FROM documents
          |  WHERE doc_id % 3 <> 0 AND doc_id % 7 <> 2
          |  UNION ALL
          |  SELECT doc_id + 50000, CASE WHEN doc_id % 6 = 0
          |      THEN text || ' graftupsert novelterm ingestion'
          |      ELSE text END
          |  FROM documents WHERE doc_id % 3 = 0 AND (doc_id + 50000) % 7 <> 2),
          |""".stripMargin +
        bm25ScoreCtes("fullc", "id", "", qtOverride = Some(
          prefixQueryTerms(80000, 25, "doc_id < 10") + """
            |UNION
            |SELECT 80100 AS qid, unnest(
            |  ['graftupsert', 'novelterm', 'ingestion']) AS term""".stripMargin)) +
        ",\n" + rankedTop10Tail("sc"))),

    // DOCUMENT UPDATE MAINTENANCE (remove ∘ upsert) — the third CRUD
    // leg the scaladoc contract names (update = subtract the old rows,
    // fold the new): every epoch doc ≡ 2 (mod 9) is EDITED (a revision
    // suffix appended), the index updates by removeIndexStats(old ids)
    // then upsertIndexStats(new texts) — same ids, changed content,
    // the case append-only ingest cannot express. Oracle = full
    // recompute over the post-edit corpus, hash-equal: the composed
    // maintenance cycle is indistinguishable from a rebuild. With q242
    // (insert) and q254 (delete) this closes insert/update/delete on
    // the incremental index.
    Q("q262_index_update_cycle",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val edited = d.filter(col("doc_id") % 9 === 2)
          .select(col("doc_id"),
            concat(col("text"), lit(" revision graftupdate pass"))
              .as("text"))
        val queries = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 80000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
        val base = graft.operators.Bm25.indexStats(d, "doc_id", "text")
        val updated = graft.operators.Bm25.upsertIndexStats(
          graft.operators.Bm25.removeIndexStats(
            base, edited.select(col("doc_id")), "doc_id"),
          edited, "doc_id", "text")
        graft.operators.Bm25.topKExternalStats(
          updated, queries, "qid", "qtext", k = 10)
      },
      Some("WITH " +
        """fullc AS (
          |  SELECT doc_id AS id, CASE WHEN doc_id % 9 = 2
          |      THEN text || ' revision graftupdate pass'
          |      ELSE text END AS text
          |  FROM documents),
          |""".stripMargin +
        bm25ScoreCtes("fullc", "id", "", qtOverride = Some(
          prefixQueryTerms(80000, 25, "doc_id < 10"))) +
        ",\n" + rankedTop10Tail("sc"))),

    // STREAMING BM25 QUERY-AT-INGEST (Bm25.scoreExternalStats under
    // Structured Streaming) — the retrieval family's streaming member:
    // incoming query docs arrive as a stream and score against the
    // STATIC epoch index statistics via a stream-static posting join.
    // The streaming plan is deliberately minimal state: the query-term
    // derivation is stateless (array_distinct BEFORE explode — no
    // distinct() agg), the posting join is stream-static, and the ONE
    // stateful operator is the (qid, id) score sum (Complete mode).
    // Ranking happens batch-side on the materialized scores — ranking
    // is presentation; scoring is the per-ingest work. Same fixture as
    // q227, so the oracle is the identical full BM25 chain: streaming
    // == batch semantics, hash-equal.
    Q("q245_streaming_bm25_ingest",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val queries = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 80000L).as("qid"),
            array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ")
              .as("qtext"))
        val inDir = s"/tmp/graft-bm25stream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(queries, "qid", s"$dir/documents_bm25stream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          queries.write.mode("overwrite").parquet(inDir)
        val stats = graft.operators.Bm25.indexStats(d, "doc_id", "text")
        val scored = graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => graft.operators.Bm25.scoreExternalStats(
            stats, stream, "qid", "qtext"),
          org.apache.spark.sql.streaming.OutputMode.Complete,
          s"q245_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("score_micro").desc, col("id").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("qid"), col("rank").cast("long").as("rank"),
            col("id"), col("score_micro"))
      },
      Some("WITH " + bm25ScoreCtes("documents", "doc_id", "", qtOverride = Some(
        prefixQueryTerms(80000, 25, "doc_id < 10"))) +
        ",\n" + rankedTop10Tail("sc"))),

    // STREAMING HYBRID RETRIEVAL (r15 missing #4) — the fused (q241)
    // ranking's streaming member: query docs arrive as a stream and
    // BOTH legs score them against the static epoch chunk index with
    // ONE stateful aggregation each. Lexical: the q245 stream-static
    // posting join (score sum per (qid, id)). Dense: a per-ROW
    // featurizer (hashedCountVecRowUdf — no groupBys), stateless SRP
    // banding + bucket join + cosine against the static chunk vectors
    // (srpScoredCandidates), then max(sim) per (qid, nid) — which
    // equals the batch path's distinct-then-score because sim is a
    // pure pair function. Ranking and integer-RRF fusion run batch-
    // side on the materialized scores (presentation, not state). The
    // oracle is q241's full chain verbatim: streaming == batch,
    // hash-equal.
    Q("q257_streaming_hybrid_retrieval",
      (spark, dir) => streamingHybridRanks(spark, dir, "q257"),
      Some(hybridChunkOracleChain +
        """
          |SELECT qid, nid, rrf, CAST(rank AS INT) AS rank
          |FROM rankedf WHERE rank <= 10""".stripMargin)),

    // STREAMING RAG END-TO-END (q257's fused streaming ranking →
    // Fusion.assembleContext) — the full retrieve-at-ingest path a
    // streaming RAG service runs: queries stream in, both legs score
    // with one aggregation each, and the materialized fused ranking
    // assembles each query's 384-token context batch-side. Oracle =
    // q246's (the batch chain + assembly tail): streaming end-to-end
    // == batch end-to-end, hash-equal.
    Q("q263_streaming_rag_assembly",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val chunks = graft.operators.Curation.chunkTexts(
          d, "doc_id", "text", 128, 32)
        val ctoks = chunks.select(col("chunk_key"),
          size(split(col("chunk_text"), " ")).cast("long").as("chunk_tokens"))
        graft.operators.Fusion.assembleContext(
          streamingHybridRanks(spark, dir, "q263")
            .select(col("qid"), col("nid"), col("rank")),
          ctoks, budgetTokens = 384)
      },
      Some(ragContextOracle)),

    // DEDUP THRESHOLD CALIBRATION SWEEP — the run a pipeline owner does
    // BEFORE fixing the near-dup Jaccard threshold: over the q226
    // corpus (base ∪ exact twins ∪ token-appended variants), every LSH
    // candidate pair's verified Jaccard is swept across τ ∈ 0.5…0.9,
    // reporting surviving pairs, exact-duplicate pairs (j = 1), and
    // the retained pairs' mean Jaccard — the curve that shows where
    // the appended-variant band (≈0.7–0.95) falls off while exact
    // twins survive every τ. Jaccard rides as micro ints (round(j·1e6)
    // of the 6-dp value — never near a half boundary, so the re-round
    // is engine-safe); the mean is an integer DIV. Oracle replays the
    // full sketch + exact set arithmetic + the sweep.
    Q("q251_dedup_threshold_sweep",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = d.unionByName(incomingBatch(d))
        val ver = graft.operators.Dedup.ngramJaccard(
            graft.operators.Dedup.minhashLshPairs(corpus, "doc_id", "text"),
            corpus, "doc_id", "text")
          .withColumn("jm", round(col("jaccard") * 1e6, 0).cast("long"))
        Seq(500000L, 600000L, 700000L, 800000L, 900000L).map { t =>
          ver.filter(col("jm") >= t)
            .agg(count(lit(1)).as("n_pairs"),
              sum(when(col("jm") === 1000000L, 1L).otherwise(0L))
                .as("n_exact"),
              expr("CAST(sum(jm) DIV count(1) AS BIGINT)")
                .as("mean_jaccard_micro"))
            // loud guard (r15 advice): the oracle's GROUP BY tau omits
            // empty buckets while this side would emit an n_pairs=0 row
            // with null aggregates — a latent row-count mismatch. The
            // fixture plants exact twins that survive every tau, so an
            // emptied bucket is fixture drift and must FAIL, not
            // hash-diverge.
            .select(lit(t).as("tau_micro"),
              when(col("n_pairs") > 0, col("n_pairs"))
                .otherwise(raise_error(lit(s"q251: tau bucket $t emptied —" +
                  " the oracle omits empty buckets; re-plant the fixture")))
                .as("n_pairs"),
              col("n_exact"), col("mean_jaccard_micro"))
        }.reduce(_ unionByName _)
      },
      Some(lshBandCtes(
        """SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL SELECT doc_id + 20000, text || ' graft incremental probe words'
          |    FROM documents WHERE doc_id % 3 = 1""".stripMargin) +
        """,
          |cand AS (
          |  SELECT DISTINCT a.id AS idA, b.id AS idB
          |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
          |  WHERE a.id < b.id),
          |ji AS (SELECT c.idA, c.idB, CAST(count(*) AS BIGINT) AS ni
          |  FROM cand c JOIN shingles sa ON sa.id = c.idA
          |    JOIN shingles sb ON sb.id = c.idB AND sb.sh = sa.sh
          |  GROUP BY 1, 2),
          |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM shingles GROUP BY id),
          |jv AS (SELECT c.idA, c.idB,
          |    CAST(round(round(CAST(coalesce(j.ni, 0) AS DOUBLE)
          |      / (na.n + nb.n - coalesce(j.ni, 0)), 6) * 1000000) AS BIGINT) AS jm
          |  FROM cand c LEFT JOIN ji j ON j.idA = c.idA AND j.idB = c.idB
          |    JOIN sz na ON na.id = c.idA JOIN sz nb ON nb.id = c.idB),
          |tv AS (SELECT unnest([500000, 600000, 700000, 800000, 900000]) AS tau)
          |SELECT CAST(tau AS BIGINT) AS tau_micro,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  CAST(sum(CASE WHEN jm = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_exact,
          |  CAST(CAST(sum(jm) AS BIGINT) // count(*) AS BIGINT)
          |    AS mean_jaccard_micro
          |FROM jv, tv WHERE jm >= tau GROUP BY tau""".stripMargin)),

    // SKETCH-QUALITY AUDIT (Dedup.minhashAccuracyAudit) — estimated vs
    // exact Jaccard per LSH candidate pair, the measurement that
    // justifies trusting 128-hash MinHash verdicts at 100 TB (est std
    // ≈ √(j(1−j)/128)): n_match/n_inter/n_union as INTEGERS plus the
    // two 6-dp ratios, over the q152 corpus (exact twins at +10000 →
    // n_match 128 & jaccard 1.0; token-appended variants at +20000 →
    // the near-dup error band; natural dups fill the rest). Oracle
    // replays the whole sketch (128 seeded mix64 minima) AND the exact
    // set arithmetic; the LEFT join keeps a collision-only pair with
    // n_inter 0 honest instead of dropping it.
    Q("q226_minhash_accuracy_audit",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = d.unionByName(incomingBatch(d))
        graft.operators.Dedup.minhashAccuracyAudit(
          corpus, "doc_id", "text")
      },
      Some(lshBandCtes(
        """SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL SELECT doc_id + 20000, text || ' graft incremental probe words'
          |    FROM documents WHERE doc_id % 3 = 1""".stripMargin) +
        """,
          |cand AS (
          |  SELECT DISTINCT a.id AS idA, b.id AS idB
          |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
          |  WHERE a.id < b.id),
          |nm AS (SELECT c.idA, c.idB, CAST(count(*) AS BIGINT) AS n_match
          |  FROM cand c JOIN sigs sa ON sa.id = c.idA
          |    JOIN sigs sb ON sb.id = c.idB AND sb.h = sa.h AND sb.sig = sa.sig
          |  GROUP BY 1, 2),
          |ji AS (SELECT c.idA, c.idB, CAST(count(*) AS BIGINT) AS ni
          |  FROM cand c JOIN shingles sa ON sa.id = c.idA
          |    JOIN shingles sb ON sb.id = c.idB AND sb.sh = sa.sh
          |  GROUP BY 1, 2),
          |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM shingles GROUP BY id)
          |SELECT c.idA, c.idB, m.n_match, coalesce(j.ni, 0) AS n_inter,
          |  na.n + nb.n - coalesce(j.ni, 0) AS n_union,
          |  round(m.n_match / 128.0, 6) AS est_jaccard,
          |  round(CAST(coalesce(j.ni, 0) AS DOUBLE)
          |    / (na.n + nb.n - coalesce(j.ni, 0)), 6) AS jaccard
          |FROM cand c JOIN nm m ON m.idA = c.idA AND m.idB = c.idB
          |  LEFT JOIN ji j ON j.idA = c.idA AND j.idB = c.idB
          |  JOIN sz na ON na.id = c.idA JOIN sz nb ON nb.id = c.idB""".stripMargin)),

    // Transitive dedup groups: connected components over the verified
    // near-dup graph (A~B, B~C → one group even without an A~C pair).
    Q("q77_dedup_groups",
      (spark, dir) => {
        val kept = DedupGroups.dedupeTransitive(
          doubled(spark, dir), "doc_id", "text")
        kept.agg(count(lit(1)).as("n_kept"),
          sum(when(col("doc_id") < 10000L, 1L).otherwise(0L)).as("n_originals"))
      },
      Some(q77Oracle)),

    // LEAKAGE-SAFE train/eval SPLIT — the split every model release
    // should make but per-doc hashing cannot: assignment is by
    // duplicate GROUP (the q77 near∪exact closure, singletons = their
    // own group), so a near-dup pair can never straddle the boundary
    // and leak training text into eval BY CONSTRUCTION (the q198/q200
    // probes then verify residual leakage, this prevents the
    // structural kind). Split = mix64(group_id) unsigned mod 10, 8:2.
    // The doubled corpus guarantees every doc has an exact twin — one
    // mis-grouped doc lands twins on opposite sides and moves rows.
    // The oracle replays LSH candidates, Jaccard verification, exact
    // stars, the min-label closure, and the mix64 split arithmetic.
    Q("q214_leakage_safe_split",
      (spark, dir) => {
        val corpus = doubled(spark, dir)
        val reg = DedupGroups.groupRegistry(corpus, "doc_id", "text")
        val mixU = udf((g: Long) => java.lang.Long.remainderUnsigned(
          graft.functions.TextFunctions.mix64(g), 10L))
        reg.select(col("id").as("doc_id"), col("group_id"),
          when(mixU(col("group_id")) < 8, "train").otherwise("eval")
            .as("split"))
      },
      Some(q214Oracle)),

    // DEDUP IMPACT REPORT (DedupGroups.dedupImpact) — the before/after
    // accounting a curation run publishes per source: doc and token
    // counts before dedup vs after keep-one, and the duplicate
    // fraction. On the doubled corpus every doc has an exact twin, so
    // each source must read dup_frac ≥ 0.5 (more where natural
    // near-dups collapse further) — the gate hashes every count, so a
    // single mis-grouped doc moves its source's row. Oracle = the
    // closure chain + token lengths from its own toks + the keep-one
    // (id == min-label) accounting.
    Q("q238_dedup_impact",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val corpus = d.unionByName(d.select(
          (col("doc_id") + 10000L).as("doc_id"), col("source"), col("text")))
        DedupGroups.dedupImpact(corpus, "doc_id", "text", "source")
      },
      Some(edgeClosureCtes(
        """SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 10000 AS id, text FROM documents""".stripMargin,
        rounds = 4) +
        """,
          |glab AS (SELECT c.id, coalesce(l.g, c.id) AS g
          |  FROM corpus c LEFT JOIN l2 l ON l.id = c.id),
          |tkc AS (SELECT id, CAST(len(w) AS BIGINT) AS tk FROM toks),
          |j AS (SELECT g.id, g.g, t.tk, d.source
          |  FROM glab g JOIN tkc t ON t.id = g.id
          |    JOIN documents d ON d.doc_id = g.id % 10000)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_before,
          |  CAST(sum(CASE WHEN id = g THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
          |  CAST(sum(tk) AS BIGINT) AS toks_before,
          |  CAST(sum(CASE WHEN id = g THEN tk ELSE 0 END) AS BIGINT)
          |    AS toks_after,
          |  round(1.0 - CAST(sum(CASE WHEN id = g THEN 1 ELSE 0 END) AS DOUBLE)
          |    / count(*), 6) AS dup_frac
          |FROM j GROUP BY source""".stripMargin)),

    // DEDUP-AWARE MIXTURE RE-PLANNING — the ACTION step q238's audit
    // was missing (round-14 missing #6): q220 apportions the epoch
    // budget from PRE-dedup token counts, so a source whose tokens are
    // mostly duplicates gets quota for text that keep-one will delete.
    // This composes the two: dedupImpact's post-dedup counts feed
    // samplingPlanFromStats, and the output shows both plans side by
    // side. Fixture: the doubled corpus plus a THIRD copy of sources
    // src0–src4 (doc_id%20<5, re-keyed +20000) — duplication
    // concentrated there, so the naive plan over-allocates those five
    // sources and quota_shift reads negative for them, positive
    // elsewhere. Oracle: the q238 closure + both temperature/Hamilton
    // chains replayed integer-for-integer.
    Q("q244_dedup_aware_replan",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val corpus = d
          .unionByName(d.select((col("doc_id") + 10000L).as("doc_id"),
            col("source"), col("text")))
          .unionByName(d.filter(col("doc_id") % 20 < 5)
            .select((col("doc_id") + 20000L).as("doc_id"),
              col("source"), col("text")))
        val naive = graft.operators.Curation.samplingPlan(
            corpus, "source", "text", budget = 1000000L)
          .select(col("source"), col("n_tokens").as("toks_before"),
            col("quota").as("quota_naive"))
        val stats = graft.operators.DedupGroups.dedupImpact(
            corpus, "doc_id", "text", "source")
          .select(col("source"), col("n_after").as("n_docs"),
            col("toks_after").as("n_tokens"))
        val replan = graft.operators.Curation.samplingPlanFromStats(
            stats, "source", budget = 1000000L)
          .select(col("source"), col("n_tokens").as("toks_after"),
            col("quota").as("quota_replanned"), col("repeat_micro"))
        naive.join(replan, Seq("source"))
          .select(col("source"), col("toks_before"), col("toks_after"),
            col("quota_naive"), col("quota_replanned"),
            (col("quota_replanned") - col("quota_naive")).as("quota_shift"),
            col("repeat_micro"))
      },
      Some(edgeClosureCtes(
        """SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 10000, text FROM documents
          |  UNION ALL SELECT doc_id + 20000, text FROM documents
          |    WHERE doc_id % 20 < 5""".stripMargin,
        rounds = 4) +
        s""",
          |glab AS (SELECT c.id, coalesce(l.g, c.id) AS g
          |  FROM corpus c LEFT JOIN l2 l ON l.id = c.id),
          |tkc AS (SELECT id, CAST(len(w) AS BIGINT) AS tk FROM toks),
          |j AS (SELECT g.id, g.g, t.tk, d.source
          |  FROM glab g JOIN tkc t ON t.id = g.id
          |    JOIN documents d ON d.doc_id = g.id % 10000),
          |ns AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens
          |  FROM j GROUP BY source),
          |${OracleFragments.temperatureQuotaCtes("n")},
          |ps AS (SELECT source,
          |    CAST(sum(CASE WHEN id = g THEN tk ELSE 0 END) AS BIGINT) AS n_tokens
          |  FROM j GROUP BY source),
          |${OracleFragments.temperatureQuotaCtes("p")}
          |SELECT q.source, n.n_tokens AS toks_before, q.n_tokens AS toks_after,
          |  n.quota AS quota_naive, q.quota AS quota_replanned,
          |  q.quota - n.quota AS quota_shift,
          |  CAST((2 * q.quota * 1000000 + q.n_tokens) // (2 * q.n_tokens)
          |    AS BIGINT) AS repeat_micro
          |FROM pq q JOIN nq n ON n.source = q.source""".stripMargin)),

    // CLEAN EVAL-SET CONSTRUCTION (DedupGroups.cleanSplit) — the
    // capstone of the leakage family: the q214 group-atomic split
    // composed with q222-direction contamination REPAIR (eval docs
    // still sharing a 13-gram with train — common phrases, boilerplate,
    // below-threshold near-misses — move to train; eval-into-train is
    // the safe direction). Fixture: the doubled corpus with a 13-token
    // disclaimer appended to (id%10000)%11==0 docs AND their twins
    // (same predicate mod 10000, so twins stay exact dups) — the
    // disclaimer spans groups, so every eval-side planted doc is dirty
    // and must read moved=1. Oracle = the full closure + mix64 split +
    // the gram probe over the split (reusing the closure's own toks).
    Q("q232_clean_eval_split",
      (spark, dir) => {
        val disc = " this content is provided as is without any warranty of any kind express"
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val dd = d.unionByName(
          d.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        val corpus = dd.select(col("doc_id"),
          when(col("doc_id") % 10000 % 11 === 0,
            concat(col("text"), lit(disc)))
            .otherwise(col("text")).as("text"))
        DedupGroups.cleanSplit(corpus, "doc_id", "text")
      },
      Some(edgeClosureCtes(
        """SELECT id, CASE WHEN id % 10000 % 11 = 0
          |    THEN text || ' this content is provided as is without any warranty of any kind express'
          |    ELSE text END AS text
          |  FROM (SELECT doc_id AS id, text FROM documents
          |    UNION ALL SELECT doc_id + 10000, text FROM documents)""".stripMargin,
        rounds = 4) +
        s""",
          |glab AS (
          |  SELECT c.id, coalesce(l.g, c.id) AS g
          |  FROM corpus c LEFT JOIN l2 l ON l.id = c.id),
          |${RelationalQueries5.mix64Stages("glab", Seq("id", "g"),
               "CAST(g AS HUGEINT)", prefix = "m")},
          |spw AS (SELECT id AS doc_id, g AS group_id,
          |    CASE WHEN vu % 10 < 8 THEN 'train' ELSE 'eval' END AS split0
          |  FROM mmixed),
          |ttk AS (SELECT t.id, t.w FROM toks t
          |  JOIN spw s ON s.doc_id = t.id AND s.split0 = 'train'),
          |etk AS (SELECT t.id, t.w FROM toks t
          |  JOIN spw s ON s.doc_id = t.id AND s.split0 = 'eval'),
          |tgm AS (SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS gm
          |  FROM ttk, unnest(generate_series(1, len(w) - 12)) AS u(i)
          |  WHERE len(w) >= 13),
          |egm AS (SELECT DISTINCT id, array_to_string(w[i:i+12], ' ') AS gm
          |  FROM etk, unnest(generate_series(1, len(w) - 12)) AS u(i)
          |  WHERE len(w) >= 13),
          |dirty AS (SELECT DISTINCT e.id FROM egm e JOIN tgm USING (gm))
          |SELECT s.doc_id, s.group_id, s.split0,
          |  CASE WHEN s.split0 = 'eval' AND dd.id IS NOT NULL THEN 'train'
          |    ELSE s.split0 END AS split,
          |  CAST(CASE WHEN s.split0 = 'eval' AND dd.id IS NOT NULL THEN 1
          |    ELSE 0 END AS BIGINT) AS moved
          |FROM spw s LEFT JOIN dirty dd ON dd.id = s.doc_id""".stripMargin)),

    // QUALITY-AWARE keep-one — the production cluster-representative
    // rule: per duplicate group keep the member with the LOWEST mean
    // unigram surprisal (cleanest under the corpus LM), not the lowest
    // id. Fixture inverts the naive rule on purpose: originals sit at
    // HIGH ids (+10000); %3==0 docs get a LOW-id near-dup twin with a
    // 3-junk-word tail (higher surprisal → quality keeps the high-id
    // original; min-id would keep the degraded copy — min_id ≠ id rows
    // expose exactly these inversions in the gate); %3==1 docs get a
    // LOW-id EXACT twin (identical surprisal → tie-break keeps min
    // id); %3==2 stay singletons. The oracle replays the full q77
    // closure chain over this corpus (shared edgeClosureCtes — q77/
    // q214 re-gate on the same factored SQL), the surprisal chain, and
    // the (m, id) argmin per group.
    Q("q219_quality_keep_one",
      (spark, dir) => {
        val junk = " xerxes zyzzyva qwertyu"
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = d.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
          .unionByName(d.filter(col("doc_id") % 3 === 0)
            .select(col("doc_id"), concat(col("text"), lit(junk)).as("text")))
          .unionByName(d.filter(col("doc_id") % 3 === 1))
        DedupGroups.keepBestByQuality(corpus, "doc_id", "text")
      },
      Some(edgeClosureCtes(
        """SELECT doc_id + 10000 AS id, text FROM documents
          |  UNION ALL SELECT doc_id AS id, text || ' xerxes zyzzyva qwertyu'
          |    FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 1""".stripMargin,
          rounds = 4) +
        """,
          |glab AS (SELECT c.id, coalesce(l.g, c.id) AS g
          |  FROM corpus c LEFT JOIN l2 l ON l.id = c.id),
          |stoks AS (SELECT id, t FROM (SELECT id, unnest(w) AS t FROM toks)
          |  WHERE length(t) > 0),
          |scnt AS (SELECT t, count(*) AS c FROM stoks GROUP BY t),
          |stot AS (SELECT sum(c) AS n FROM scnt),
          |ssurp AS (SELECT t,
          |    CAST(round(-ln(CAST(c AS DOUBLE) / n) * 1000000) AS BIGINT) AS s
          |  FROM scnt, stot),
          |dmean AS (SELECT id, round(CAST(sum(s) AS DOUBLE) / count(*) / 1000000, 4) AS m
          |  FROM stoks JOIN ssurp USING (t) GROUP BY id),
          |grp AS (SELECT g.g AS group_id, g.id, d.m
          |  FROM glab g JOIN dmean d USING (id)),
          |rk AS (SELECT group_id, id, m,
          |    min(id) OVER (PARTITION BY group_id) AS min_id,
          |    count(*) OVER (PARTITION BY group_id) AS n_members,
          |    row_number() OVER (PARTITION BY group_id ORDER BY m, id) AS rn
          |  FROM grp)
          |SELECT id, group_id, min_id, CAST(n_members AS BIGINT) AS n_members,
          |  m AS kept_mean
          |FROM rk WHERE rn = 1""".stripMargin)),

    // INCREMENTAL group maintenance — the daily-ingest continuation of
    // q152 and the reference's incremental-rerun pattern
    // (FinishedFilterProcessor.kt:17-27) applied to the dedup registry.
    // Epoch state: the full closure over the DOUBLED existing corpus
    // (groups {j, j+10000}). A new batch (exact copies %3==0 at +20000,
    // near-dup variants %3==1 at +30000) contributes edges via
    // incremental LSH candidates + Jaccard verify ∪ exact-hash joins;
    // DedupGroups.mergeBatch contracts existing groups to their reps and
    // runs CC only over the batch-touched subgraph. The oracle is a FULL
    // RECOMPUTE over existing ∪ incoming — the gate is the incremental
    // algorithm's defining property: incremental ≡ full.
    Q("q161_incremental_groups",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val existing = d.unionByName(
          d.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        val incoming = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 20000L).as("doc_id"), col("text"))
          .unionByName(d.filter(col("doc_id") % 3 === 1)
            .select((col("doc_id") + 30000L).as("doc_id"),
              concat(col("text"), lit(" graft incremental probe words"))
                .as("text")))
        val combined = existing.unionByName(incoming)

        // content-hash pair edges of a corpus restricted to pairs with
        // ≥1 endpoint in `probe` — a plain hash equi-join, never an OR
        def exactEdges(c: DataFrame, probe: DataFrame): DataFrame =
          probe.select(sha2(col("text"), 256).as("h"), col("doc_id").as("pid"))
            .join(c.select(sha2(col("text"), 256).as("h"),
              col("doc_id").as("oid")), Seq("h"))
            .filter(col("pid") =!= col("oid"))
            .select(least(col("pid"), col("oid")).as("idA"),
              greatest(col("pid"), col("oid")).as("idB"))
            .distinct()

        // EPOCH STATE is a create-once fixture, not per-run work: a real
        // daily-ingest pipeline carries the registry and the corpus band
        // index over from the previous epoch — rebuilding them per batch
        // would defeat the whole incremental design. Fingerprint-keyed
        // (content term included), marker-guarded.
        val fp = Tables.fingerprint(d, "doc_id", s"$dir/documents_increg")
        val epochDir = s"/tmp/graft-increg-${dir.replaceAll("[^a-zA-Z0-9]", "_")}-$fp"
        if (!new java.io.File(s"$epochDir/_MARKER").exists()) {
          val exEdges = Dedup.ngramJaccard(
              Dedup.minhashLshPairs(existing, "doc_id", "text"),
              existing, "doc_id", "text")
            .filter(col("jaccard") >= 0.8).select(col("idA"), col("idB"))
            .unionByName(exactEdges(existing, existing))
          existing.select(col("doc_id").as("id"))
            .join(DedupGroups.connectedComponents(exEdges), Seq("id"), "left")
            .select(col("id"),
              coalesce(col("groupId"), col("id")).as("groupId"))
            .write.mode("overwrite").parquet(s"$epochDir/registry")
          Dedup.bandTable(existing, "doc_id", "text")
            .write.mode("overwrite").parquet(s"$epochDir/bands")
          graft.operators.OperatorCaches.release()
          new java.io.File(epochDir, "_MARKER").createNewFile()
        }
        val registry = spark.read.parquet(s"$epochDir/registry")
        val exBands = spark.read.parquet(s"$epochDir/bands")

        // batch edges: ≥1 incoming endpoint (near ∪ exact) — the
        // incoming side joins the SAVED band index, never re-shingling
        // the corpus
        val batchEdges = Dedup.ngramJaccard(
            Dedup.incrementalLshPairsFromIndex(exBands, incoming,
              "doc_id", "text"),
            combined, "doc_id", "text")
          .filter(col("jaccard") >= 0.8).select(col("idA"), col("idB"))
          .unionByName(exactEdges(combined, incoming))

        val updated = DedupGroups.mergeBatch(registry, batchEdges)
        combined.select(col("doc_id").as("id"))
          .join(updated, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("groupId"), col("id")).as("group_id"))
      },
      Some(q161Oracle)),

    // Rolling-hash document fingerprint (whitespace-insensitive exact dedup).
    Q("q38_fingerprint",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        d.select(TextFunctions.fingerprint(col("text")).as("fp"), col("doc_id"))
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      },
      // the rolling hash is pure integer arithmetic — DuckDB replays it
      // exactly with a 128-bit (HUGEINT) left fold over the char codes;
      // list_prepend seeds the accumulator so empty docs fold to 0 like
      // the JVM kernel
      Some("""WITH norm AS (
             |  SELECT doc_id,
             |    trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS t
             |  FROM documents),
             |fps AS (
             |  SELECT doc_id,
             |    CAST(list_reduce(
             |      list_prepend(CAST(0 AS HUGEINT),
             |        list_transform(string_split(t, ''), c -> CAST(unicode(c) AS HUGEINT))),
             |      (h, c) -> (h * 257 + c) % 2305843009213693951) AS BIGINT) AS fp
             |  FROM norm)
             |SELECT fp, count(*) AS n, min(doc_id) AS keeper FROM fps GROUP BY fp""".stripMargin)),

    // Deterministic stratified downsampling — the training-mixture op.
    // Membership is a Knuth multiplicative residue on the stable id (NOT
    // rand()/TABLESAMPLE): replayable in any engine, stable across
    // re-runs and partitionings, and a pure narrow map at 100 TB (the
    // only shuffle is the final per-stratum count).
    Q("q85_stratified_sample",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val rate = when(col("source") === "src0", 10).otherwise(30)
        val kept = (col("doc_id") * 2654435761L) % 100 < rate
        d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(kept, 1L).otherwise(0L)).as("n_kept"))
          .withColumn("kept_ratio",
            round(col("n_kept").cast("double") / col("n_total"), 6))
      },
      Some("""SELECT source, count(*) AS n_total,
             |  CAST(sum(CASE WHEN (doc_id * 2654435761) % 100 <
             |    (CASE WHEN source = 'src0' THEN 10 ELSE 30 END)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  ROUND(CAST(sum(CASE WHEN (doc_id * 2654435761) % 100 <
             |    (CASE WHEN source = 'src0' THEN 10 ELSE 30 END)
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS kept_ratio
             |FROM documents GROUP BY source""".stripMargin)),

    // Quality-threshold filtering (the pre-training cleaning pass):
    // length / alphabetic-ratio / stopword-signal gates, then per-lang
    // survival stats. Same feature expressions as q31 (oracle-proven).
    Q("q86_quality_filter",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val f = TextFunctions.qualityFeatures(col("text")).toMap
        d.select(col("lang"), f("n_tokens").as("n_tokens"),
            f("alpha_ratio").as("alpha_ratio"),
            f("stopword_ratio").as("stopword_ratio"))
          .filter(col("n_tokens") >= 20 && col("alpha_ratio") >= 0.6 &&
            col("stopword_ratio") >= 0.02)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            round(sum(col("n_tokens")).cast("double") / count(lit(1)), 6)
              .as("avg_tokens"))
      },
      Some("""WITH feats AS (
             |  SELECT lang,
             |    CAST(len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS INT) AS n_tokens,
             |    ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             |      / length(text), 6) AS alpha_ratio,
             |    ROUND(CAST(len(list_filter(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
             |        t -> t IN ('the','and','of','to','a','in','is','that','for','it'))) AS DOUBLE)
             |      / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')), 6) AS stopword_ratio
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |  ROUND(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) AS avg_tokens
             |FROM feats
             |WHERE n_tokens >= 20 AND alpha_ratio >= 0.6 AND stopword_ratio >= 0.02
             |GROUP BY lang""".stripMargin)),

    // Token-budget sequence packing (context-window packing): greedy
    // concatenation in stable doc order, context boundary every 4096
    // tokens of running sum (512 here so the tiny corpus yields several contexts per stratum; 4k-8k in production) — one window cumsum per stratum, no driver
    // loop, no shuffle beyond the (source) partition: the 100 TB shape.
    Q("q87_pack_contexts",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(spark, dir, "documents")
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        d.select(col("source"), col("doc_id"),
            size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("context_id", expr("(cum - n_tokens) div 512"))
          .groupBy(col("source"), col("context_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("ctx_tokens"))
      },
      Some("""WITH toks AS (
             |  SELECT source, doc_id,
             |    CAST(len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |packed AS (
             |  SELECT source, n_tokens,
             |    CAST((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
             |      // 512 AS BIGINT) AS context_id
             |  FROM toks)
             |SELECT source, context_id, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS ctx_tokens
             |FROM packed GROUP BY source, context_id""".stripMargin)),

    // PII scrubbing (pre-training redaction). The synthetic corpus has no
    // natural PII, so the query plants deterministic emails / SSN-style
    // ids / phone numbers per doc (same move as the doubled dedup corpus:
    // the thing to detect must exist by construction), then scrubs and
    // proves zero residue. RE2-safe patterns run identically in both
    // engines; ids redact before phones (a 3-2-4 id matches the phone
    // shape too).
    Q("q88_pii_scrub",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val injected = concat(col("text"),
          lit(" contact user"), col("doc_id") % 1000, lit("@mail.example.org"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" cc admin"), col("doc_id") % 7, lit("@corp.example.com")))
            .otherwise(lit("")),
          lit(" or call +1 555 0"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit(" id 123-45-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        val counts = TextFunctions.piiCounts(injected).toMap
        d.select(col("source"), col("doc_id"),
            TextFunctions.redactPii(injected).as("scrubbed"),
            counts("n_emails").as("n_emails"), counts("n_ids").as("n_ids"),
            counts("n_phones").as("n_phones"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_emails")).as("emails"),
            sum(col("n_ids")).as("ids"),
            sum(col("n_phones")).as("phones"),
            sum(length(col("scrubbed"))).as("scrubbed_chars"),
            sum(when(col("scrubbed").contains("@") ||
              col("scrubbed").rlike("\\d{3}-\\d{2}-\\d{4}"), 1L).otherwise(0L))
              .as("residual_pii"))
      },
      Some("""WITH injected AS (
             |  SELECT source, doc_id,
             |    text || ' contact user' || CAST(doc_id % 1000 AS VARCHAR) || '@mail.example.org'
             |      || (CASE WHEN doc_id % 3 = 0
             |          THEN ' cc admin' || CAST(doc_id % 7 AS VARCHAR) || '@corp.example.com'
             |          ELSE '' END)
             |      || ' or call +1 555 0' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
             |      || ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
             |  FROM documents),
             |scrubbed AS (
             |  SELECT source,
             |    regexp_replace(
             |      regexp_replace(
             |        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |        '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g'),
             |      '\+?\d[\d()\- ]{6,}\d', '<PHONE>', 'g') AS s,
             |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             |    len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ids,
             |    len(regexp_extract_all(
             |      regexp_replace(
             |        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
             |        '\b\d{3}-\d{2}-\d{4}\b', '', 'g'),
             |      '\+?\d[\d()\- ]{6,}\d')) AS n_phones
             |  FROM injected)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_emails) AS BIGINT) AS emails,
             |  CAST(sum(n_ids) AS BIGINT) AS ids,
             |  CAST(sum(n_phones) AS BIGINT) AS phones,
             |  CAST(sum(length(s)) AS BIGINT) AS scrubbed_chars,
             |  CAST(sum(CASE WHEN s LIKE '%@%'
             |    OR regexp_matches(s, '\d{3}-\d{2}-\d{4}') THEN 1 ELSE 0 END) AS BIGINT)
             |    AS residual_pii
             |FROM scrubbed GROUP BY source""".stripMargin)),

    // PER-DOC PII battery (q88's aggregate scrub, at row granularity and
    // with a FOURTH class): emails, SSN-style ids, contiguous ≥9-digit
    // runs (account/national-id shapes), and E.164-ish phones, redacted
    // most-specific-first so each character is attributed to exactly one
    // class, with per-doc per-class counts AND the redacted text itself
    // under the gate. Planting mixes the classes per doc (mod 2/3/5
    // cycles) so every subset combination occurs. The long-id/phone
    // overlap is resolved by a documented policy: a bare contiguous run
    // is an id, a separator-grouped run is a phone.
    Q("q176_pii_battery",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val injected = concat(col("text"),
          lit(" ref 9876"), lpad((col("doc_id") % 100000).cast("string"), 5, "0"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" call +44 20 7946 0"),
              lpad((col("doc_id") % 100).cast("string"), 2, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact agent"), col("doc_id") % 50,
              lit("@dept.example.net"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" ssn 987-65-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")))
        val counts = TextFunctions.piiBatteryCounts(injected).toMap
        d.select(col("doc_id"),
          counts("n_emails").cast("long").as("n_emails"),
          counts("n_ids").cast("long").as("n_ids"),
          counts("n_longids").cast("long").as("n_longids"),
          counts("n_phones").cast("long").as("n_phones"),
          TextFunctions.redactPiiBattery(injected).as("redacted"))
      },
      Some("""WITH injected AS (
             |  SELECT doc_id,
             |    text || ' ref 9876' || lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0')
             |      || (CASE WHEN doc_id % 2 = 0
             |          THEN ' call +44 20 7946 0' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
             |          ELSE '' END)
             |      || (CASE WHEN doc_id % 3 = 0
             |          THEN ' contact agent' || CAST(doc_id % 50 AS VARCHAR) || '@dept.example.net'
             |          ELSE '' END)
             |      || (CASE WHEN doc_id % 5 = 0
             |          THEN ' ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |          ELSE '' END) AS t
             |  FROM documents),
             |chain AS (
             |  SELECT doc_id, t,
             |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS se
             |  FROM injected),
             |chain2 AS (
             |  SELECT doc_id, t, se,
             |    regexp_replace(se, '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g') AS si
             |  FROM chain),
             |chain3 AS (
             |  SELECT doc_id, t, se, si,
             |    regexp_replace(si, '\b\d{9,}\b', '<LONGID>', 'g') AS sl
             |  FROM chain2)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(se, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ids,
             |  CAST(len(regexp_extract_all(si, '\b\d{9,}\b')) AS BIGINT) AS n_longids,
             |  CAST(len(regexp_extract_all(sl, '\+?\d[\d()\- ]{6,}\d')) AS BIGINT) AS n_phones,
             |  regexp_replace(sl, '\+?\d[\d()\- ]{6,}\d', '<PHONE>', 'g') AS redacted
             |FROM chain3""".stripMargin)),

    // C4/Gopher heuristic quality-filter battery: the per-doc VERDICT
    // TABLE (each rule's value, each rule's pass flag, composite keep)
    // that q86's aggregate filter lacks. Seven Gopher rules with pinned
    // thresholds — word count [10, 100k] (tiny-corpus-scaled; Gopher
    // uses 50), mean word length [2, 10], symbol-to-word ratio ≤ 0.1
    // ('#' + '...' per word), bullet-line ratio ≤ 0.9, ellipsis-line
    // ratio ≤ 0.3, alpha-word ratio ≥ 0.8, ≥ 2 stopword hits — plus
    // C4's terminal-punctuation line ratio reported as a value (the
    // natural corpus is unpunctuated single-line prose, so folding it
    // into keep would reject everything; C4 applies it per LINE
    // anyway). One pass, zero shuffles: every rule is a codegen'd
    // expression over the same row. Pass flags compare UNROUNDED
    // IEEE-identical divisions; the displayed values are rounded once.
    // The corpus carries one planted violator per rule (qualityPlanted).
    Q("q177_quality_verdicts",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(qualityPlanted.toDF("doc_id", "text"))
        val r = gopherRules(col("text"))
        def flag(c: org.apache.spark.sql.Column) =
          when(c, 1L).otherwise(0L)
        d.select(col("doc_id"),
          r.nWords.as("n_words"), round(r.meanLen, 6).as("mean_word_len"),
          round(r.symRatio, 6).as("symbol_ratio"),
          round(r.bulletRatio, 6).as("bullet_ratio"),
          round(r.ellRatio, 6).as("ellipsis_ratio"),
          round(r.alphaRatio, 6).as("alpha_word_ratio"),
          r.nStop.as("n_stopwords"),
          round(r.punctRatio, 6).as("term_punct_ratio"),
          flag(r.pWords).as("p_words"), flag(r.pMean).as("p_meanlen"),
          flag(r.pSym).as("p_symbol"), flag(r.pBullet).as("p_bullet"),
          flag(r.pEll).as("p_ellipsis"), flag(r.pAlpha).as("p_alpha"),
          flag(r.pStop).as("p_stopwords"),
          flag(r.keep).as("keep"))
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL $qualityPlantedSql),
             |${gopherValsSql("corpus")}
             |SELECT doc_id, n_words,
             |  ROUND(mean_raw, 6) AS mean_word_len,
             |  ROUND(sym_raw, 6) AS symbol_ratio,
             |  ROUND(bullet_raw, 6) AS bullet_ratio,
             |  ROUND(ell_raw, 6) AS ellipsis_ratio,
             |  ROUND(alpha_raw, 6) AS alpha_word_ratio,
             |  n_stop AS n_stopwords,
             |  ROUND(punct_raw, 6) AS term_punct_ratio,
             |  CAST(CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS p_words,
             |  CAST(CASE WHEN mean_raw BETWEEN 2.0 AND 10.0 THEN 1 ELSE 0 END AS BIGINT) AS p_meanlen,
             |  CAST(CASE WHEN sym_raw <= 0.1 THEN 1 ELSE 0 END AS BIGINT) AS p_symbol,
             |  CAST(CASE WHEN bullet_raw <= 0.9 THEN 1 ELSE 0 END AS BIGINT) AS p_bullet,
             |  CAST(CASE WHEN ell_raw <= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS p_ellipsis,
             |  CAST(CASE WHEN alpha_raw >= 0.8 THEN 1 ELSE 0 END AS BIGINT) AS p_alpha,
             |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS p_stopwords,
             |  CAST(CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END AS BIGINT) AS keep
             |FROM vals""".stripMargin)),

    // CURATION FUNNEL capstone — the three passes a real corpus actually
    // runs, COMPOSED: Gopher quality gate (q177's shared rules) → PII
    // redaction (q176's shared 4-class ladder) → exact dedup keep-one
    // (q30's sha256 decision rule), emitting the per-doc cleaned-corpus
    // manifest (id, redaction count, cleaned length, content hash) a
    // downstream tokenizer consumes. PII is injected pre-copy so exact
    // copies (+10000, every %3==0 doc) share identical injected text,
    // survive or fail quality together, redact identically, and dedup
    // to the min-id keeper — any drift in ANY stage (a flipped verdict,
    // a missed redaction, a wrong keeper) changes the manifest rows.
    // One pass per stage, the only shuffle is the dedup groupBy on the
    // 32-byte content hash — the 100 TB shape.
    Q("q181_curation_funnel",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val injected = d.select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id") % 100,
          lit("@ex.org ref 987654"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0")).as("text"))
        val corpus = injected.unionByName(
          injected.filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        val kept = corpus.filter(gopherRules(col("text")).keep)
        val counts = TextFunctions.piiBatteryCounts(col("text")).toMap
        val red = kept.select(col("doc_id"),
          TextFunctions.redactPiiBattery(col("text")).as("clean"),
          (counts("n_emails") + counts("n_ids") + counts("n_longids") +
            counts("n_phones")).cast("long").as("n_redactions"))
        val keepers = red
          .groupBy(sha2(col("clean"), 256).as("content_sha"))
          .agg(min(col("doc_id")).as("doc_id"))
        red.join(keepers, Seq("doc_id"))
          .select(col("doc_id"), col("n_redactions"),
            length(col("clean")).cast("long").as("clean_len"),
            col("content_sha"))
      },
      Some {
        val em = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
        val idp = """\b\d{3}-\d{2}-\d{4}\b"""
        val lg = """\b\d{9,}\b"""
        val ph = """\+?\d[\d()\- ]{6,}\d"""
        s"""WITH inj AS (
           |  SELECT doc_id, text || ' contact user' || CAST(doc_id % 100 AS VARCHAR)
           |    || '@ex.org ref 987654' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS text
           |  FROM documents),
           |corpus AS (
           |  SELECT doc_id, text FROM inj
           |  UNION ALL SELECT doc_id + 10000, text FROM inj WHERE doc_id % 3 = 0),
           |${gopherValsSql("corpus")},
           |keeps AS (SELECT doc_id FROM vals WHERE $gopherKeepSql),
           |surv AS (SELECT c.doc_id, c.text AS t FROM corpus c
           |  JOIN keeps k ON k.doc_id = c.doc_id),
           |ch1 AS (SELECT doc_id, t, regexp_replace(t, '$em', '<EMAIL>', 'g') AS se FROM surv),
           |ch2 AS (SELECT doc_id, t, se, regexp_replace(se, '$idp', '<ID>', 'g') AS si FROM ch1),
           |ch3 AS (SELECT doc_id, t, se, si, regexp_replace(si, '$lg', '<LONGID>', 'g') AS sl FROM ch2),
           |red AS (SELECT doc_id,
           |  regexp_replace(sl, '$ph', '<PHONE>', 'g') AS clean,
           |  len(regexp_extract_all(t, '$em')) + len(regexp_extract_all(se, '$idp'))
           |    + len(regexp_extract_all(si, '$lg'))
           |    + len(regexp_extract_all(sl, '$ph')) AS n_red
           |  FROM ch3),
           |keepers AS (SELECT sha256(clean) AS content_sha, min(doc_id) AS doc_id
           |  FROM red GROUP BY 1)
           |SELECT r.doc_id, CAST(r.n_red AS BIGINT) AS n_redactions,
           |  CAST(length(r.clean) AS BIGINT) AS clean_len, k.content_sha
           |FROM red r JOIN keepers k ON k.doc_id = r.doc_id""".stripMargin
      }),

    // STREAMING INGEST GATE — q181's funnel at the crawl-ingest
    // boundary, run as a STREAM: incoming docs arrive as a file stream
    // and pass through exact-dup rejection (stream-static LEFT ANTI
    // join on sha256 against the epoch corpus's content-hash index —
    // the q174 epoch-index discipline applied to exact dedup), the
    // Gopher quality gate, and PII redaction — every stage stateless
    // or stream-static, so the query runs in Append mode with ZERO
    // state store. Three planted regimes: exact corpus copies
    // (+10000, rejected by the index), novel text with a planted email
    // (+20000, the only survivors — each manifest row carries its
    // redaction), and junk ('too # short', +30000, fails quality on
    // words/symbols/stopwords). The oracle replays all three stages in
    // batch SQL — batch-equality IS the streaming correctness claim.
    Q("q183_streaming_ingest_gate",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val incoming = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
          .unionByName(d.filter(col("doc_id") % 3 === 1)
            .select((col("doc_id") + 20000L).as("doc_id"),
              concat(col("text"),
                lit(" fresh reporting the corpus lacks entirely today contact user"),
                col("doc_id") % 100, lit("@ex.org")).as("text")))
          .unionByName(d.filter(col("doc_id") % 3 === 2)
            .select((col("doc_id") + 30000L).as("doc_id"),
              lit("too # short").as("text")))
        val inDir = s"/tmp/graft-ingest-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(incoming, "doc_id", s"$dir/documents_ingest")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          incoming.write.mode("overwrite").parquet(inDir)
        val index = d.select(sha2(col("text"), 256).as("h")).distinct()
          .localCheckpoint(true) // the epoch content-hash index
        val counts = TextFunctions.piiBatteryCounts(col("text")).toMap
        graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => stream
            .withColumn("h", sha2(col("text"), 256))
            .join(index, Seq("h"), "left_anti")
            .filter(gopherRules(col("text")).keep)
            .select(col("doc_id").as("in_id"),
              TextFunctions.redactPiiBattery(col("text")).as("clean"),
              (counts("n_emails") + counts("n_ids") + counts("n_longids") +
                counts("n_phones")).cast("long").as("n_redactions"))
            .select(col("in_id"), col("n_redactions"),
              length(col("clean")).cast("long").as("clean_len"),
              sha2(col("clean"), 256).as("content_sha")),
          org.apache.spark.sql.streaming.OutputMode.Append,
          s"q183_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
      },
      Some {
        val em = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
        val idp = """\b\d{3}-\d{2}-\d{4}\b"""
        val lg = """\b\d{9,}\b"""
        val ph = """\+?\d[\d()\- ]{6,}\d"""
        s"""WITH inc AS (
           |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
           |  UNION ALL SELECT doc_id + 20000,
           |    text || ' fresh reporting the corpus lacks entirely today contact user'
           |      || CAST(doc_id % 100 AS VARCHAR) || '@ex.org'
           |    FROM documents WHERE doc_id % 3 = 1
           |  UNION ALL SELECT doc_id + 30000, 'too # short'
           |    FROM documents WHERE doc_id % 3 = 2),
           |idx AS (SELECT DISTINCT sha256(text) AS h FROM documents
           |  WHERE text IS NOT NULL),
           |novel AS (SELECT doc_id, text FROM inc
           |  WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.h = sha256(inc.text))),
           |${gopherValsSql("novel")},
           |keeps AS (SELECT doc_id FROM vals WHERE $gopherKeepSql),
           |surv AS (SELECT n.doc_id, n.text AS t FROM novel n
           |  JOIN keeps k USING (doc_id)),
           |ch1 AS (SELECT doc_id, t, regexp_replace(t, '$em', '<EMAIL>', 'g') AS se FROM surv),
           |ch2 AS (SELECT doc_id, t, se, regexp_replace(se, '$idp', '<ID>', 'g') AS si FROM ch1),
           |ch3 AS (SELECT doc_id, t, se, si, regexp_replace(si, '$lg', '<LONGID>', 'g') AS sl FROM ch2),
           |red AS (SELECT doc_id,
           |  regexp_replace(sl, '$ph', '<PHONE>', 'g') AS clean,
           |  len(regexp_extract_all(t, '$em')) + len(regexp_extract_all(se, '$idp'))
           |    + len(regexp_extract_all(si, '$lg'))
           |    + len(regexp_extract_all(sl, '$ph')) AS n_red
           |  FROM ch3)
           |SELECT doc_id AS in_id, CAST(n_red AS BIGINT) AS n_redactions,
           |  CAST(length(clean) AS BIGINT) AS clean_len,
           |  sha256(clean) AS content_sha
           |FROM red""".stripMargin
      }),

    // Char-n-gram language-ID (CharLangId): the curation-grade upgrade
    // of q's 10-marker argmax — Cavnar–Trenkle rank profiles (top-64
    // padded trigrams per lang) fit from the hash-capped sample, every
    // per-doc verdict under the gate. The fit is single-pass, so the
    // oracle replays fit AND classification in one SQL chain: same
    // sample selection (shared mix64 stages), same trigram extraction
    // (`_word_` padding over ASCII-lowered alpha words), same
    // (count DESC, gram ASC) rank order, same (score DESC, lang ASC)
    // argmax, same 'und' zero case.
    Q("q148_charlang",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val profiles = graft.functions.CharLangId.fit(
          d, "doc_id", "text", "lang")
        d.select(col("doc_id"),
            graft.functions.CharLangId.classifyCol(col("text"), profiles)
              .as("_v"))
          .select(col("doc_id"),
            col("_v")("_1").as("pred_lang"),
            col("_v")("_2").cast("long").as("score"))
      },
      Some(s"""WITH base AS (SELECT doc_id, text, lang FROM documents
             |  WHERE text IS NOT NULL),
             |${RelationalQueries5.mix64Stages("base", Seq("doc_id", "text", "lang"), "CAST(doc_id AS HUGEINT)")},
             |samp AS (SELECT doc_id, text, lang FROM mixed ORDER BY vu LIMIT 256),
             |sw AS (SELECT lang, '_' || lower(tok) || '_' AS p
             |  FROM (SELECT lang, unnest(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS tok FROM samp)
             |  WHERE lang IS NOT NULL AND regexp_matches(tok, '^[A-Za-z]+$$')),
             |sg AS (SELECT lang, substr(p, i, 3) AS g FROM (
             |  SELECT lang, p, unnest(generate_series(1, length(p) - 2)) AS i FROM sw)),
             |pc AS (SELECT lang, g, count(*) AS c FROM sg GROUP BY 1, 2),
             |prof AS (SELECT lang, g, rank FROM (
             |  SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rank
             |  FROM pc) WHERE rank <= 64),
             |dw AS (SELECT doc_id, '_' || lower(tok) || '_' AS p
             |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS tok FROM documents)
             |  WHERE regexp_matches(tok, '^[A-Za-z]+$$')),
             |dg AS (SELECT DISTINCT doc_id, substr(p, i, 3) AS g FROM (
             |  SELECT doc_id, p, unnest(generate_series(1, length(p) - 2)) AS i FROM dw)),
             |sc AS (SELECT d.doc_id, p.lang, sum(65 - p.rank) AS score
             |  FROM dg d JOIN prof p ON p.g = d.g GROUP BY 1, 2),
             |best AS (SELECT doc_id, lang, score,
             |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
             |  FROM sc WHERE score > 0)
             |SELECT d.doc_id, coalesce(b.lang, 'und') AS pred_lang,
             |  CAST(coalesce(b.score, 0) AS BIGINT) AS score
             |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
             |  ON b.doc_id = d.doc_id""".stripMargin)),

    // ATOMIC VERSION COMMIT under a TORN FOLD (IndexArtifact.commit /
    // latestCommitted — crash-safety for the multi-member layout): a
    // lexical fold writes one manifest per member, so a crash between
    // member folds leaves a half-manifested version. The fixture
    // builds q334's corpus under a commit-marked sibling root, commits
    // v0 and v1, then lands a DELIBERATELY TORN v2 (the b2 wave folds
    // the stats members but not the positional member, and never
    // commits — the exact crash window). Readers resolve
    // latestCommitted, so both serve paths (BM25 top-k off the stats
    // members AND phrase matching off the positional member) read v1
    // — hash-equal to the as-of-v1 corpus recompute. The in-query
    // guards prove the tear is REAL (tf manifested at v2, pos not)
    // and INVISIBLE (latestCommitted == 1): a naive latest-version
    // reader would serve v2 stats against v1 positions — the split-
    // brain this marker exists to prevent.
    Q("q340_torn_version_commit",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val bm = graft.operators.Bm25
        val ia = graft.operators.IndexArtifact
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase))
              .otherwise(lit("")),
            when(col("doc_id") % 9 === 0, lit(" zxsingular"))
              .otherwise(lit(""))).as("text"))
        val nullS = lit(null).cast("string")
        val b1 = planted.filter(col("doc_id") % 5 === 3)
          .select(lit("U").as("op"), col("doc_id"),
            concat(col("text"), lit(" ttrevision one")).as("text"))
          .unionByName(planted.filter(col("doc_id") % 5 === 4)
            .select(lit("D").as("op"), col("doc_id"), nullS.as("text")))
          .unionByName(planted.filter(col("doc_id") % 5 === 0)
            .select(lit("I").as("op"),
              (col("doc_id") + 70000L).as("doc_id"),
              concat(col("text"), lit(" ttinsert alpha")).as("text")))
        val b2 = planted.filter(col("doc_id") % 7 === 0 &&
            col("doc_id") % 5 =!= 4)
          .select(lit("D").as("op"), col("doc_id"), nullS.as("text"))
          .unionByName(planted.filter(col("doc_id") % 9 === 0 &&
              col("doc_id") % 7 =!= 0 && col("doc_id") % 5 =!= 4)
            .select(lit("U").as("op"), col("doc_id"),
              concat(col("text"), lit(" ttrevision two")).as("text")))
        val root =
          s"/tmp/graft-ttcommit-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${Tables.fingerprint(planted, "doc_id", s"$dir/documents_ttc")}"
        val lay = ia.LexicalLayout(s"$root/idx", docParts = 8,
          termParts = 8, withPositional = true)
        if (!new java.io.File(s"$root/_DONE").exists()) {
          graft.operators.OperatorCaches.scoped {
            ia.writeLexicalFull(lay, planted, "doc_id", "text", 0)
            ia.commit(spark, lay.root, 0)
            ia.applyCdcLexical(lay, b1, "doc_id", "text", "op", 0, 1)
            ia.commit(spark, lay.root, 1)
            // the torn fold: stats members land at v2, the positional
            // member does NOT, and no commit marker is written
            ia.applyCdcLexical(lay.copy(withPositional = false), b2,
              "doc_id", "text", "op", 1, 2)
          }
          new java.io.FileOutputStream(s"$root/_DONE").close()
        }
        // the tear must be real and invisible
        if (!new java.io.File(s"${lay.root}/v2/tf.manifest").exists() ||
            new java.io.File(s"${lay.root}/v2/pos.manifest").exists())
          throw new IllegalStateException(
            "q340 fixture defeated: v2 is not the intended torn shape")
        val v = ia.latestCommitted(spark, lay.root)
        if (v != 1) throw new IllegalStateException(
          s"q340: latestCommitted read $v — the torn v2 leaked " +
            "(or a committed version is missing)")
        val s = ia.readLexicalStats(spark, lay, v)
        val pos = ia.read(spark, lay.root, lay.pos, v)
        val queries = Seq((9000001L, "zq0grafted marker"),
          (9000002L, "zxsingular ttrevision")).toDF("qid", "qtext")
        bm.topKExternalStats(s, queries, "qid", "qtext", k = 5)
          .select(lit("bm25").as("leg"), col("qid"), col("rank"),
            col("id"), col("score_micro").as("val"))
          .unionByName(bm.phraseMatchesFrom(pos,
              Seq("zq0grafted", "exact", "phrase", "marker"))
            .select(lit("phrase").as("leg"), lit(-1L).as("qid"),
              lit(0L).as("rank"), col("id"),
              col("n_occurrences").as("val")))
      },
      Some {
        val qtVals =
          """SELECT qid, term FROM (VALUES
            |  (9000001, 'zq0grafted'), (9000001, 'marker'),
            |  (9000002, 'zxsingular'), (9000002, 'ttrevision'))
            |  t(qid, term)""".stripMargin
        "WITH " + zxPlantedCte + s""",
             |c1 AS (
             |  SELECT doc_id AS id, text || CASE WHEN doc_id % 5 = 3
             |      THEN ' ttrevision one' ELSE '' END AS text
             |  FROM pl WHERE doc_id % 5 <> 4
             |  UNION ALL
             |  SELECT doc_id + 70000, text || ' ttinsert alpha'
             |  FROM pl WHERE doc_id % 5 = 0),
             |""".stripMargin +
          bm25ScoreCtes("c1", "id", "", p = "v1",
            qtOverride = Some(qtVals)) +
          s""",
             |w1tw AS (SELECT id, string_split_regex(
             |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS w
             |  FROM c1),
             |w1pos AS (SELECT id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS term
             |  FROM (SELECT id, w, unnest(generate_series(1, len(w))) AS i
             |        FROM w1tw)
             |  WHERE length(w[i]) > 0),
             |w1m AS (SELECT a.id, a.pos FROM w1pos a
             |  JOIN w1pos b ON b.id = a.id AND b.pos = a.pos + 1
             |    AND b.term = 'exact'
             |  JOIN w1pos c ON c.id = a.id AND c.pos = a.pos + 2
             |    AND c.term = 'phrase'
             |  JOIN w1pos e ON e.id = a.id AND e.pos = a.pos + 3
             |    AND e.term = 'marker'
             |  WHERE a.term = 'zq0grafted'),
             |w1occ AS (SELECT id, CAST(count(*) AS BIGINT) AS n
             |  FROM w1m GROUP BY 1),
             |r1 AS (SELECT qid, id, score_micro, ROW_NUMBER() OVER (
             |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
             |  FROM v1sc)
             |SELECT 'bm25' AS leg, CAST(qid AS BIGINT) AS qid,
             |  CAST(rank AS BIGINT) AS rank, id, score_micro AS val
             |FROM r1 WHERE rank <= 5
             |UNION ALL
             |SELECT 'phrase', -1, 0, id, n FROM w1occ""".stripMargin
      }),

    // QUERY-INDEX CONSISTENCY AUDIT (Bm25.auditQueryIndex — the audit
    // discipline's third instance, covering the maintained percolator
    // members): six keyed checks over the boolean (qid, term, wt) and
    // phrase (qid, off, term) members — a mustless alert (matches
    // everything under sum==n_must with n_must 0), duplicate (qid,
    // term) rows, an illegal wt, duplicate phrase offsets, offset
    // gaps (a hole silently weakens per-position verification), and
    // a qid registered in BOTH members (double-fires every match).
    // The healthy leg audits a REAL maintained index (registration +
    // a deletion fold) at six zeros; the corrupted leg appends
    // constant planted rows so every check fires at a literal count
    // the oracle states outright.
    Q("q341_query_index_audit",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val bm = graft.operators.Bm25
        val toks = TextFunctions.tokens(col("text"))
        val alerts = d.filter(col("doc_id") < 30)
          .select((col("doc_id") + 90000L).as("qid"),
            array_join(slice(toks, 1, 6), " ").as("must_text"),
            when(col("doc_id") % 3 === 0, "qnotone")
              .otherwise(null).cast("string").as("not_text"))
        val bReg = bm.registerStandingQueries(alerts, "qid",
          "must_text", "not_text")
        val bIdx = bm.maintainQueryIndex(bReg, bReg.limit(0),
          d.filter(col("doc_id") < 30 && col("doc_id") % 2 === 0)
            .select((col("doc_id") + 90000L).as("qid")))
        val pReg = bm.registerStandingPhrases(
          d.filter(col("doc_id") >= 30 && col("doc_id") < 60 &&
              size(toks) >= 5)
            .select((col("doc_id") + 96000L).as("qid"),
              array_join(slice(toks, 2, 3), " ").as("phrase_text")),
          "qid", "phrase_text")
        val pIdx = bm.maintainQueryIndex(pReg, pReg.limit(0),
          d.filter(col("doc_id") >= 30 && col("doc_id") < 60 &&
              col("doc_id") % 2 === 1)
            .select((col("doc_id") + 96000L).as("qid")))
        val healthy = bm.auditQueryIndex(bIdx, pIdx)
        val mn = -(1L << 20)
        val extraBool = Seq(
          (97001L, "zzneg", mn),
          (97002L, "zzdup", 1L), (97002L, "zzdup", 1L),
          (97003L, "zzok", 1L), (97003L, "zzbad", 7L),
          (97020L, "zzx", 1L)
        ).toDF("qid", "term", "wt")
        val extraPhrase = Seq(
          (97010L, 0L, "zza"), (97010L, 0L, "zzb"), (97010L, 1L, "zzc"),
          (97011L, 0L, "zza"), (97011L, 2L, "zzb"),
          (97012L, 1L, "zza"),
          (97020L, 0L, "zzx")
        ).toDF("qid", "off", "term")
        val corrupted = bm.auditQueryIndex(
          bIdx.unionByName(extraBool), pIdx.unionByName(extraPhrase))
        healthy.select(lit("healthy").as("leg"), col("check"),
            col("violations"))
          .unionByName(corrupted.select(lit("corrupted").as("leg"),
            col("check"), col("violations")))
      },
      Some("""SELECT leg, "check", CAST(violations AS BIGINT) AS violations
             |FROM (VALUES
             |  ('healthy', 'bool_qids_no_must', 0),
             |  ('healthy', 'bool_dup_rows', 0),
             |  ('healthy', 'bool_bad_wt', 0),
             |  ('healthy', 'phrase_dup_offsets', 0),
             |  ('healthy', 'phrase_off_gaps', 0),
             |  ('healthy', 'qid_in_both_members', 0),
             |  ('corrupted', 'bool_qids_no_must', 1),
             |  ('corrupted', 'bool_dup_rows', 1),
             |  ('corrupted', 'bool_bad_wt', 1),
             |  ('corrupted', 'phrase_dup_offsets', 1),
             |  ('corrupted', 'phrase_off_gaps', 2),
             |  ('corrupted', 'qid_in_both_members', 1)
             |) t(leg, "check", violations)""".stripMargin)),

    // RETENTION-SET GC (IndexArtifact.gcRetaining — the production GC
    // where SEVERAL snapshots stay live at once: a pinned training run
    // replays v1 while serving reads v3): the fixture extends q334's
    // fold history with a third wave (v3 deletes every doc v2
    // touched), retains {v1, v3}, and GCs every member. The dead
    // MIDDLE version's physical dirs must be gone (superseded by v3,
    // unreferenced by v1 — the case gcBelow cannot express) while v0
    // files that v1 still references by manifest SURVIVE the same
    // sweep. Both retained versions then serve (BM25 top-k + phrase
    // matching), each hash-equal to its as-of corpus recompute — the
    // proof that a multi-snapshot retention sweep deletes exactly the
    // unreferenced history and nothing a live reader needs. State
    // assertions are directory-shape-based, so they hold on warm runs
    // of the create-once fixture.
    Q("q342_retention_gc",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val bm = graft.operators.Bm25
        val ia = graft.operators.IndexArtifact
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val phrase = " zq0grafted exact phrase marker"
        val planted = d.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 14 === 0, lit(phrase + phrase))
              .when(col("doc_id") % 7 === 0, lit(phrase))
              .otherwise(lit("")),
            when(col("doc_id") % 9 === 0, lit(" zxsingular"))
              .otherwise(lit(""))).as("text"))
        val nullS = lit(null).cast("string")
        val b1 = planted.filter(col("doc_id") % 5 === 3)
          .select(lit("U").as("op"), col("doc_id"),
            concat(col("text"), lit(" ttrevision one")).as("text"))
          .unionByName(planted.filter(col("doc_id") % 5 === 4)
            .select(lit("D").as("op"), col("doc_id"), nullS.as("text")))
          .unionByName(planted.filter(col("doc_id") % 5 === 0)
            .select(lit("I").as("op"),
              (col("doc_id") + 70000L).as("doc_id"),
              concat(col("text"), lit(" ttinsert alpha")).as("text")))
        val b2 = planted.filter(col("doc_id") % 7 === 0 &&
            col("doc_id") % 5 =!= 4)
          .select(lit("D").as("op"), col("doc_id"), nullS.as("text"))
          .unionByName(planted.filter(col("doc_id") % 9 === 0 &&
              col("doc_id") % 7 =!= 0 && col("doc_id") % 5 =!= 4)
            .select(lit("U").as("op"), col("doc_id"),
              concat(col("text"), lit(" ttrevision two")).as("text")))
        // v3 deletes EVERY doc v2 touched, so its doc partitions
        // supersede v2's and the middle version goes physically dead
        val b3 = planted.filter((col("doc_id") % 7 === 0 ||
            col("doc_id") % 9 === 0) && col("doc_id") % 5 =!= 4)
          .select(lit("D").as("op"), col("doc_id"), nullS.as("text"))
        val root =
          s"/tmp/graft-ttretain-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${Tables.fingerprint(planted, "doc_id", s"$dir/documents_ttr")}"
        val lay = ia.LexicalLayout(s"$root/idx", docParts = 8,
          termParts = 8, withPositional = true)
        val members = Seq(lay.tf, lay.dl, lay.df, lay.totals, lay.pos)
        if (!new java.io.File(s"$root/_DONE").exists()) {
          graft.operators.OperatorCaches.scoped {
            ia.writeLexicalFull(lay, planted, "doc_id", "text", 0)
            ia.applyCdcLexical(lay, b1, "doc_id", "text", "op", 0, 1)
            ia.applyCdcLexical(lay, b2, "doc_id", "text", "op", 1, 2)
            ia.applyCdcLexical(lay, b3, "doc_id", "text", "op", 2, 3)
            members.foreach { m =>
              ia.gcRetaining(spark, lay.root, m, Set(1, 3)); ()
            }
          }
          new java.io.FileOutputStream(s"$root/_DONE").close()
        }
        // warm-safe state assertions: the dead middle is GONE, the
        // referenced past SURVIVES
        members.foreach { m =>
          val live = Set(1, 3).flatMap(v =>
            ia.readManifest(spark, lay.root, m, v).values.toSet)
          if (live(2)) throw new IllegalStateException(
            s"q342 fixture defeated: retained manifests still " +
              s"reference v2 of ${m.name}")
          if (new java.io.File(
              s"${lay.root}/parts/${m.name}/v2").exists())
            throw new IllegalStateException(
              s"q342: dead middle version v2 of ${m.name} survived GC")
          live.filter(_ < 3).foreach { v =>
            if (!new java.io.File(
                s"${lay.root}/parts/${m.name}/v$v").exists())
              throw new IllegalStateException(
                s"q342: GC deleted v$v of ${m.name}, still referenced " +
                  "by a retained manifest")
          }
        }
        val queries = Seq((9000001L, "zq0grafted marker"),
          (9000002L, "zxsingular ttrevision")).toDF("qid", "qtext")
        Seq(1, 3).map { v =>
          val s = ia.readLexicalStats(spark, lay, v)
          val pos = ia.read(spark, lay.root, lay.pos, v)
          bm.topKExternalStats(s, queries, "qid", "qtext", k = 5)
            .select(lit("bm25").as("leg"), lit(v.toLong).as("ver"),
              col("qid"), col("rank"), col("id"),
              col("score_micro").as("val"))
            .unionByName(bm.phraseMatchesFrom(pos,
                Seq("zq0grafted", "exact", "phrase", "marker"))
              .select(lit("phrase").as("leg"), lit(v.toLong).as("ver"),
                lit(-1L).as("qid"), lit(0L).as("rank"), col("id"),
                col("n_occurrences").as("val")))
        }.reduce(_.unionByName(_))
      },
      Some {
        val qtVals =
          """SELECT qid, term FROM (VALUES
            |  (9000001, 'zq0grafted'), (9000001, 'marker'),
            |  (9000002, 'zxsingular'), (9000002, 'ttrevision'))
            |  t(qid, term)""".stripMargin
        "WITH " + zxPlantedCte + s""",
             |c1 AS (
             |  SELECT doc_id AS id, text || CASE WHEN doc_id % 5 = 3
             |      THEN ' ttrevision one' ELSE '' END AS text
             |  FROM pl WHERE doc_id % 5 <> 4
             |  UNION ALL
             |  SELECT doc_id + 70000, text || ' ttinsert alpha'
             |  FROM pl WHERE doc_id % 5 = 0),
             |c3 AS (
             |  SELECT doc_id AS id, text || CASE WHEN doc_id % 5 = 3
             |      THEN ' ttrevision one' ELSE '' END AS text
             |  FROM pl WHERE doc_id % 5 <> 4 AND doc_id % 7 <> 0
             |    AND doc_id % 9 <> 0
             |  UNION ALL
             |  SELECT doc_id + 70000, text || ' ttinsert alpha'
             |  FROM pl WHERE doc_id % 5 = 0),
             |""".stripMargin +
          bm25ScoreCtes("c1", "id", "", p = "v1",
            qtOverride = Some(qtVals)) + ",\n" +
          bm25ScoreCtes("c3", "id", "", p = "v3",
            qtOverride = Some(qtVals)) + ",\n" +
          phraseLegCtes("w1", "c1") + ",\n" + phraseLegCtes("w3", "c3") +
          s""",
             |r1 AS (SELECT qid, id, score_micro, ROW_NUMBER() OVER (
             |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
             |  FROM v1sc),
             |r3 AS (SELECT qid, id, score_micro, ROW_NUMBER() OVER (
             |    PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
             |  FROM v3sc)
             |SELECT 'bm25' AS leg, CAST(1 AS BIGINT) AS ver,
             |  CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
             |  id, score_micro AS val FROM r1 WHERE rank <= 5
             |UNION ALL
             |SELECT 'bm25', 3, qid, CAST(rank AS BIGINT), id, score_micro
             |FROM r3 WHERE rank <= 5
             |UNION ALL
             |SELECT 'phrase', 1, -1, 0, id, n FROM w1occ
             |UNION ALL
             |SELECT 'phrase', 3, -1, 0, id, n FROM w3occ""".stripMargin
      }),
  )
}
