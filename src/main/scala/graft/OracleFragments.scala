package graft

/** DuckDB oracle SQL fragments shared by more than one query file. Each
  * builder returns a CTE chain without a leading `WITH` or a trailing
  * comma; its parameters are the CTE names, source SQL and constants
  * that differ between the oracles using it. Fragments used by one file
  * stay private there. */
private[graft] object OracleFragments {

  /** The integer temperature plan (α = 0.7 in micro-nats, max-anchored
    * exp) apportioned over a 10^6-token budget by Hamilton's largest
    * remainder, from `{p}s(source, n_tokens)` to
    * `{p}q(source, n_tokens, quota)`. */
  def temperatureQuotaCtes(p: String): String =
    s"""${p}lw AS (SELECT source, n_tokens,
       |    (CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) * 7)
       |      // 10 AS lwm FROM ${p}s),
       |${p}mx AS (SELECT max(lwm) AS m FROM ${p}lw),
       |${p}wm AS (SELECT source, n_tokens,
       |    CAST(round(exp(CAST(lwm - (SELECT m FROM ${p}mx) AS DOUBLE) / 1000000)
       |      * 1000000) AS BIGINT) AS weight_micro FROM ${p}lw),
       |${p}tw AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS t FROM ${p}wm),
       |${p}base AS (SELECT source, n_tokens, weight_micro,
       |    (1000000 * weight_micro) // t AS bq,
       |    1000000 * weight_micro - ((1000000 * weight_micro) // t) * t AS rem
       |  FROM ${p}wm, ${p}tw),
       |${p}lo AS (SELECT 1000000 - sum(bq) AS l FROM ${p}base),
       |${p}rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS r
       |  FROM ${p}base),
       |${p}q AS (SELECT source, n_tokens,
       |    CAST(bq + CASE WHEN r <= (SELECT l FROM ${p}lo) THEN 1 ELSE 0 END
       |      AS BIGINT) AS quota FROM ${p}rk)""".stripMargin

  /** Sparse TF-IDF cosine over `terms(id, term)` of the corpus CTE `src`:
    * smoothed idf with the df > 50% stop-term cutoff, weights `w`, and
    * every co-term pair's cosine both ways as `sym(qid, nid, sim)`. */
  def tfidfCosineCtes(src: String): String =
    s"""tf AS (SELECT id, term, COUNT(*) AS tf FROM terms
       |       WHERE length(term) > 0 GROUP BY 1, 2),
       |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM $src),
       |w AS (SELECT id, tf.term,
       |        tf * (ln((n.n + 1.0) / (df + 1)) + 1) AS tfidf
       |      FROM tf JOIN dfq USING (term) CROSS JOIN n
       |      WHERE df <= 0.5 * n.n),
       |norms AS (SELECT id, sqrt(SUM(tfidf * tfidf)) AS norm FROM w GROUP BY id),
       |dots AS (
       |  SELECT a.id AS idA, b.id AS idB, SUM(a.tfidf * b.tfidf) AS dot
       |  FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
       |  GROUP BY 1, 2),
       |sims AS (
       |  SELECT idA, idB, dot / (na.norm * nb.norm) AS sim
       |  FROM dots JOIN norms na ON na.id = idA JOIN norms nb ON nb.id = idB),
       |sym AS (
       |  SELECT idA AS qid, idB AS nid, sim FROM sims
       |  UNION ALL SELECT idB, idA, sim FROM sims)""".stripMargin
}
