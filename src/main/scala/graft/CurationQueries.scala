package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Curation, DedupGroups}

/** Corpus-curation surface: decontamination, repetition scoring,
  * transitive closure with an exact oracle, vocabulary, mixture weights
  * (LLM-data-pipeline operators beyond the dedup/ANN families).
  *
  * Every query here is DuckDB-oracled — including connected components
  * (q91), which gets an exactly-predictable expected labeling by building
  * the edge list as per-(source,lang) doc-id chains: the operator sees
  * only anonymous pairs and must close multi-hop chains, yet the true
  * components are provably "all docs of that (source,lang)", so the
  * oracle is a window min. The tokenizer in every oracle mirrors
  * TextFunctions.tokens (strip ALL leading/trailing whitespace, split on
  * \s+), same as q31.
  */
object CurationQueries {
  import Registry.Q

  val all: Seq[Q] = Seq(
    // Benchmark decontamination (GPT-3 appendix-C style): eval set =
    // every 17th doc; a training doc is contaminated if it shares ≥1
    // distinct word 5-gram with ANY eval doc. Reports the per-doc count
    // of shared distinct grams.
    Q("q89_decontaminate",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val evalSet = d.filter(col("doc_id") % 17 === 3)
        val train = d.filter(col("doc_id") % 17 =!= 3)
        Curation.ngramContamination(train, evalSet, "doc_id", "text", 5)
          .select(col("id").as("doc_id"), col("n_shared"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
             |  FROM documents),
             |grams AS (
             |  SELECT DISTINCT doc_id, array_to_string(w[g : g + 4], ' ') AS gram
             |  FROM toks, unnest(generate_series(1, len(w) - 4)) AS t(g)),
             |eval_grams AS (
             |  SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 3)
             |SELECT g.doc_id, count(*) AS n_shared
             |FROM grams g JOIN eval_grams e USING (gram)
             |WHERE g.doc_id % 17 <> 3
             |GROUP BY g.doc_id""".stripMargin)),

    // Intra-document repetition features (repetitive-junk filter):
    // most-frequent-token ratio + duplicate-3-gram ratio per doc.
    Q("q90_repetition",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .filter(col("doc_id") % 3 === 1)
        Curation.repetitionStats(d, "doc_id", "text", 3)
          .select(col("id").as("doc_id"), col("n_tokens"),
            col("top_token_ratio"), col("n_grams"), col("dup_gram_ratio"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
             |  FROM documents WHERE doc_id % 3 = 1),
             |tokc AS (
             |  SELECT doc_id, t, count(*) AS c
             |  FROM toks, unnest(w) AS u(t) GROUP BY doc_id, t),
             |tok_stats AS (
             |  SELECT doc_id, sum(c) AS n_tokens, max(c) AS max_tok
             |  FROM tokc GROUP BY doc_id),
             |grams AS (
             |  SELECT doc_id, array_to_string(w[g : g + 2], ' ') AS gram
             |  FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(g)),
             |gram_stats AS (
             |  SELECT doc_id, count(*) AS n_grams,
             |    count(DISTINCT gram) AS n_distinct_grams
             |  FROM grams GROUP BY doc_id)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  round(CAST(max_tok AS DOUBLE) / n_tokens, 6) AS top_token_ratio,
             |  n_grams,
             |  round(1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams, 6) AS dup_gram_ratio
             |FROM tok_stats JOIN gram_stats USING (doc_id)""".stripMargin)),

    // Connected components with an EXACT oracle: edges chain consecutive
    // doc_ids within each (source, lang) — the operator must close chains
    // of length |group|-1 from anonymous pairs; true labels are the
    // (source, lang) window min. Singleton groups have no edge and are
    // excluded on both sides.
    Q("q91_cc_chains",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val w = Window.partitionBy(col("source"), col("lang"))
          .orderBy(col("doc_id"))
        val edges = d.select(col("doc_id").as("idA"),
            lead(col("doc_id"), 1).over(w).as("idB"))
          .filter(col("idB").isNotNull)
        DedupGroups.connectedComponents(edges)
          .select(col("id"), col("groupId").as("group_id"))
      },
      Some("""SELECT doc_id AS id,
             |  CAST(min(doc_id) OVER (PARTITION BY source, lang) AS BIGINT) AS group_id
             |FROM documents
             |QUALIFY count(*) OVER (PARTITION BY source, lang) > 1""".stripMargin)),

    // Global token vocabulary: top 50 lower-cased tokens by
    // (count desc, token asc) — the deterministic cut for BPE seeding /
    // frequency tables.
    Q("q92_vocab_topk",
      (spark, dir) =>
        Curation.vocabulary(Tables.load(spark, dir, "documents"), "text", 50),
      Some("""SELECT t AS tok, count(*) AS n
             |FROM (SELECT unnest(string_split_regex(
             |    lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS t
             |  FROM documents)
             |WHERE length(t) > 0
             |GROUP BY t ORDER BY n DESC, t LIMIT 50""".stripMargin)),

    // Fuzzy join: supplier-name pairs within edit distance 1 via
    // deletion-neighborhood (FastSS) blocking — O(N·len) variant rows,
    // never the N² all-pairs product. Both engines agree on levenshtein;
    // the oracle rebuilds the same variant sets with generate_series.
    Q("q100_fuzzy_join",
      (spark, dir) => {
        val s = Tables.load(spark, dir, "supplier")
          .filter(col("s_suppkey") % 4 === 0) // bounded output
        Curation.fuzzyPairs(s, "s_suppkey", "s_name")
          .select(col("idA"), col("idB"), col("dist"))
      },
      Some("""WITH src AS (
             |  SELECT s_suppkey AS id, s_name AS s FROM supplier
             |  WHERE s_suppkey % 4 = 0),
             |variants AS (
             |  SELECT id, s, s AS v FROM src
             |  UNION ALL
             |  SELECT id, s,
             |    substr(s, 1, i - 1) || substr(s, i + 1, length(s)) AS v
             |  FROM src, unnest(generate_series(1, length(s))) AS t(i)),
             |cand AS (
             |  SELECT DISTINCT a.id AS idA, b.id AS idB, a.s AS sA, b.s AS sB
             |  FROM variants a JOIN variants b ON a.v = b.v
             |  WHERE a.id < b.id)
             |SELECT idA, idB, CAST(levenshtein(sA, sB) AS INT) AS dist
             |FROM cand WHERE levenshtein(sA, sB) <= 1""".stripMargin)),

    // Exact-k per-stratum sampling (deterministic hash-rank reservoir):
    // exactly min(3, |source|) docs per source, reproducible.
    Q("q99_sample_k_per_stratum",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        Curation.sampleKPerStratum(d, "source", "doc_id", 3)
          .select(col("source"), col("doc_id"), col("sample_rank"))
      },
      Some("""SELECT source, doc_id, CAST(rk AS INT) AS sample_rank
             |FROM (
             |  SELECT source, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007, doc_id) AS rk
             |  FROM documents)
             |WHERE rk <= 3""".stripMargin)),

    // Curriculum binning: docs decile-bucketed by token length under a
    // total order (n_tokens, doc_id) — the shard layout for
    // shortest-first training schedules. ntile's distribution rule
    // (first n%k buckets get the extra row) is identical in both
    // engines. The global window is exact-but-single-partition; a
    // 100 TB curriculum would bin by approx-quantile cutpoints instead
    // (q20's machinery) — this is the exact small-corpus form.
    Q("q102_curriculum_buckets",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"),
            size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
        val w = Window.orderBy(col("n_tokens"), col("doc_id"))
        d.withColumn("bucket", ntile(10).over(w))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"),
            sum(col("n_tokens")).as("token_budget"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(len(string_split_regex(
             |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |b AS (
             |  SELECT n_tokens,
             |    ntile(10) OVER (ORDER BY n_tokens, doc_id) AS bucket
             |  FROM t)
             |SELECT bucket, count(*) AS n_docs,
             |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
             |  CAST(sum(n_tokens) AS BIGINT) AS token_budget
             |FROM b GROUP BY bucket""".stripMargin)),

    // Corpus distinct-n diversity report (1/2/3-grams): the repetition /
    // mode-collapse metric for training data.
    Q("q96_ngram_diversity",
      (spark, dir) =>
        Curation.ngramDiversity(
          Tables.load(spark, dir, "documents"), "text", maxN = 3),
      Some("""WITH toks AS (
             |  SELECT string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
             |  FROM documents),
             |g1 AS (SELECT t AS gram FROM toks, unnest(w) AS u(t)),
             |g2 AS (
             |  SELECT array_to_string(w[g : g + 1], ' ') AS gram
             |  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(g)),
             |g3 AS (
             |  SELECT array_to_string(w[g : g + 2], ' ') AS gram
             |  FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(g)),
             |stats AS (
             |  SELECT 1 AS n, count(*) AS total_ngrams,
             |    count(DISTINCT gram) AS distinct_ngrams FROM g1
             |  UNION ALL
             |  SELECT 2, count(*), count(DISTINCT gram) FROM g2
             |  UNION ALL
             |  SELECT 3, count(*), count(DISTINCT gram) FROM g3)
             |SELECT n, total_ngrams, distinct_ngrams,
             |  round(CAST(distinct_ngrams AS DOUBLE) / total_ngrams, 6) AS diversity
             |FROM stats ORDER BY n""".stripMargin)),

    // Perplexity-style quality scoring: mean unigram surprisal per doc
    // against the corpus's own token distribution. Surprisal is fixed to
    // integer micro-nats per DISTINCT token before any per-doc summing,
    // so document totals are exact integer sums in both engines (raw
    // double sums would be aggregation-order-dependent).
    Q("q94_unigram_surprisal",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        Curation.unigramSurprisal(d, "doc_id", "text")
          .filter(col("id") % 7 === 0)
          .select(col("id").as("doc_id"), col("n_tokens"),
            col("mean_surprisal"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, t FROM (
             |    SELECT doc_id, unnest(string_split_regex(
             |      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS t
             |    FROM documents)
             |  WHERE length(t) > 0),
             |counts AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
             |tot AS (SELECT sum(c) AS n FROM counts),
             |surp AS (
             |  SELECT t, CAST(round(-ln(CAST(c AS DOUBLE) / n) * 1000000) AS BIGINT) AS s
             |  FROM counts, tot)
             |SELECT doc_id, count(*) AS n_tokens,
             |  round(CAST(sum(s) AS DOUBLE) / count(*) / 1000000, 4) AS mean_surprisal
             |FROM toks JOIN surp USING (t)
             |WHERE doc_id % 7 = 0
             |GROUP BY doc_id""".stripMargin)),

    // Domain-mixture reweighting: per-source token share and the uniform-
    // budget sampling weight (total/k)/tokens(source).
    Q("q93_mixture_weights",
      (spark, dir) =>
        Curation.mixtureWeights(
          Tables.load(spark, dir, "documents"), "source", "text"),
      Some("""WITH s AS (
             |  SELECT source, count(*) AS n_docs,
             |    CAST(sum(len(string_split_regex(
             |      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY source),
             |t AS (SELECT count(*) AS k, sum(n_tokens) AS tot FROM s)
             |SELECT source, n_docs, n_tokens,
             |  round(CAST(n_tokens AS DOUBLE) / tot, 6) AS token_share,
             |  round(CAST(tot AS DOUBLE) / k / n_tokens, 6) AS weight
             |FROM s, t""".stripMargin)),

    // TEMPERATURE-SCALED mixture weights (Curation.temperatureWeights):
    // w ∝ n^α with α = 7/10 exact rational — the standard data-mixing
    // middle (the LLaMA/UL2 upsampling recipe) between q93's uniform
    // budget (α = 0) and proportional sampling (α = 1), completing the
    // family q199's learned DoReMi weights sit on top of. Applied in
    // log space on the micro-nat integer grid: one ln and one exp per
    // DOMAIN, each rounded once onto integers (exp anchored at the
    // largest domain, which reads exactly 1e6), then a pure integer
    // share ratio. The oracle replays the same two float calls on the
    // same grid plus the flooring division.
    Q("q205_temperature_weights",
      (spark, dir) =>
        Curation.temperatureWeights(
          Tables.load(spark, dir, "documents"), "source", "text"),
      Some(temperatureWeightCtes +
        """
          |SELECT source, n_docs, n_tokens, logw_micro, weight_micro,
          |  round(CAST(weight_micro AS DOUBLE) / (SELECT t FROM tw), 6)
          |    AS weight_share
          |FROM wm""".stripMargin)),

    // MIXTURE LANDING AUDIT (Curation.mixtureLandingAudit) — per
    // source, the ACTUAL token micro-share next to the q205 α=0.7
    // TARGET share and the signed excess: because α<1 compresses the
    // size spread, every above-average source must read 'over' and
    // every small one 'under' — the report that drives the next
    // epoch's plan correction. Floored integer micro-shares (DIV ==
    // // on nonnegative operands); oracle extends the shared q205 CTE
    // chain with the two totals and the verdict CASE.
    Q("q235_mixture_landing",
      (spark, dir) =>
        Curation.mixtureLandingAudit(
          Tables.load(spark, dir, "documents"), "source", "text"),
      Some(temperatureWeightCtes +
        """,
          |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM wm)
          |SELECT source, n_tokens,
          |  CAST((1000000 * n_tokens) // (SELECT tot FROM tt) AS BIGINT)
          |    AS actual_micro,
          |  CAST((1000000 * weight_micro) // (SELECT t FROM tw) AS BIGINT)
          |    AS target_micro,
          |  CAST((1000000 * n_tokens) // (SELECT tot FROM tt)
          |    - (1000000 * weight_micro) // (SELECT t FROM tw) AS BIGINT)
          |    AS excess_micro,
          |  CASE WHEN (1000000 * n_tokens) // (SELECT tot FROM tt)
          |      > (1000000 * weight_micro) // (SELECT t FROM tw) THEN 'over'
          |    WHEN (1000000 * n_tokens) // (SELECT tot FROM tt)
          |      < (1000000 * weight_micro) // (SELECT t FROM tw) THEN 'under'
          |    ELSE 'on' END AS verdict
          |FROM wm""".stripMargin)),

    // EPOCH SAMPLING PLAN (Curation.samplingPlan) — the q205 weights
    // MATERIALIZED into integers a trainer can execute: a 1M-token
    // epoch budget apportioned by Hamilton's largest-remainder method
    // (base = floored proportional share on weight_micro, leftover
    // +1s to the largest exact remainders, (rem DESC, source) total
    // order), so Σ quota == budget EXACTLY — one mis-floored share or
    // a drifted remainder rank moves a bonus token and the hash. The
    // per-domain repeat_micro (quota/n_tokens, rounded once) is the
    // upsampling factor the plan exposes. Oracle shares the q205 CTE
    // chain verbatim and replays the apportionment integer-for-
    // integer.
    Q("q220_sampling_plan",
      (spark, dir) =>
        Curation.samplingPlan(
          Tables.load(spark, dir, "documents"), "source", "text",
          budget = 1000000L),
      Some(temperatureWeightCtes +
        """,
          |base AS (SELECT source, n_tokens, weight_micro,
          |    (1000000 * weight_micro) // t AS base_quota,
          |    1000000 * weight_micro - ((1000000 * weight_micro) // t) * t AS rem
          |  FROM wm, tw),
          |lo AS (SELECT 1000000 - sum(base_quota) AS l FROM base),
          |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS r
          |  FROM base)
          |SELECT source, n_tokens, weight_micro,
          |  CAST(base_quota AS BIGINT) AS base_quota,
          |  CAST(CASE WHEN r <= (SELECT l FROM lo) THEN 1 ELSE 0 END AS BIGINT) AS bonus,
          |  CAST(base_quota + CASE WHEN r <= (SELECT l FROM lo) THEN 1 ELSE 0 END
          |    AS BIGINT) AS quota,
          |  CAST((2 * (base_quota + CASE WHEN r <= (SELECT l FROM lo) THEN 1 ELSE 0 END)
          |      * 1000000 + n_tokens) // (2 * n_tokens) AS BIGINT) AS repeat_micro
          |FROM rk""".stripMargin)),

    // PRIORITY SAMPLING (Curation.prioritySample) — weighted sampling
    // WITHOUT replacement, Duffield–Lund–Thorup: u = (mix64(id)>>>32)+1,
    // priority w/u (bit-identical binary64 in both engines: exact
    // integer operands, correctly-rounded IEEE division), sample =
    // top-64 by (pri DESC, id), τ = the 65th priority, per-doc
    // Horvitz–Thompson weight max(w, τ) in integer nano units so
    // Σ est_nano unbiasedly estimates total corpus tokens. The w ≥ τ
    // branch decides by exact cross-multiplication (w·u_τ ≥ w_τ).
    // Plan: TakeOrderedAndProject (per-partition heaps, no global
    // sort); the oracle replays mix64, the division, the total order,
    // and the nano rounding.
    Q("q223_priority_sample",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        Curation.prioritySample(d, "doc_id",
          size(graft.functions.TextFunctions.tokens(col("text"))), k = 64)
      },
      Some(s"""WITH toksrc AS (SELECT doc_id AS id,
             |    CAST(len(string_split_regex(
             |      regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS BIGINT) AS w
             |  FROM documents),
             |wts AS (SELECT id, w FROM toksrc WHERE w > 0),
             |${RelationalQueries5.mix64Stages("wts", Seq("id", "w"),
                 "CAST(id AS UBIGINT)")},
             |upri AS (SELECT id, w, CAST(vu // 4294967296 + 1 AS BIGINT) AS u
             |  FROM mixed),
             |pri AS (SELECT id, w, u,
             |    CAST(w AS DOUBLE) / CAST(u AS DOUBLE) AS p FROM upri),
             |rk AS (SELECT id, w, u, p,
             |    row_number() OVER (ORDER BY p DESC, id) AS rank FROM pri),
             |tau AS (SELECT max(CASE WHEN rank = 65 THEN w END) AS w_tau,
             |    max(CASE WHEN rank = 65 THEN u END) AS u_tau FROM rk)
             |SELECT CAST(rank AS BIGINT) AS rank, id, w,
             |  CASE WHEN t.w_tau IS NULL OR r.w * t.u_tau >= t.w_tau
             |    THEN r.w * 1000000000
             |    ELSE CAST(round(CAST(t.w_tau AS DOUBLE) / t.u_tau
             |      * 1000000000) AS BIGINT)
             |  END AS est_nano
             |FROM rk r, tau t WHERE rank <= 64""".stripMargin)),

    // Fixed-point PageRank (operators/Graph.scala) — the link-analysis
    // quality prior of a web-crawl curation pipeline, over the bipartite
    // customer↔supplier interaction graph (both directions, supplier ids
    // offset into their own namespace). All arithmetic is integer
    // micro-units, so the oracle unrolls every iteration exactly: per
    // round, contrib = pr // outdeg summed per target, then
    // pr' = 150000 + (85·recv) // 100. Top-20 with a total-order
    // tiebreak (pr desc, node asc).
    Q("q118_pagerank",
      (spark, dir) => {
        graft.operators.Graph.pageRank(customerSupplierEdges(spark, dir),
            iterations = 4, broadcastRanks = true)
          .orderBy(desc("pr"), asc("node"))
          .limit(20)
      },
      Some(pageRankOracle(4, seedsSql = None))),

    // Personalized PageRank (restart at a seed set): the "what's near
    // these nodes" relevance query — seeds are one nation's customers;
    // non-seeds start at 0 and get no base term, so every unit of rank
    // provably flowed out of the seed set through the graph. Same
    // integer arithmetic; the oracle carries the seed flag through
    // every unrolled iteration.
    Q("q128_personalized_pagerank",
      (spark, dir) => {
        val seeds = Tables.load(spark, dir, "customer")
          .filter(col("c_nationkey") === 1)
          .select(col("c_custkey").as("node"))
        graft.operators.Graph.personalizedPageRank(
            customerSupplierEdges(spark, dir), seeds,
            iterations = 4, broadcastRanks = true)
          .orderBy(desc("pr"), asc("node"))
          .limit(20)
      },
      Some(pageRankOracle(4,
        seedsSql = Some("SELECT DISTINCT c_custkey AS node FROM customer WHERE c_nationkey = 1")))),

    // Token-window document chunking (Curation.chunkByTokens) — the
    // splitting sibling of q86's context packing: overlapping
    // 128-token chunks at stride 96 over the oracled BPE-ish lexer.
    // The gate hashes chunk counts, per-chunk token sums AND boundary
    // tokens (first/last lengths per bucket) — an off-by-one in the
    // slice start, the stride, or the ceil arithmetic breaks it.
    Q("q139_token_chunking",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Curation.chunkByTokens(d, "doc_id", "text", 128, 32)
          .groupBy((col("doc_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("chunk_tokens")).as("token_sum"),
            max(col("chunk_idx")).cast("long").as("max_chunk_idx"),
            sum(length(col("first_token"))).as("first_len_sum"),
            sum(length(col("last_token"))).as("last_len_sum"))
      },
      Some(q139Oracle(128, 32))),

    // Deterministic hash-Bernoulli sampling (Curation.hashSample) — the
    // rate-based mixture downsampler: keep iff mix64(doc_id)/2^64 falls
    // under the domain's rate ((srcnum % 4 + 1)/5 here → 0.2/0.4/0.6/
    // 0.8 bands). No RNG: reproducible, retry-stable, subset-monotone
    // in the rate, and exactly replayable — the oracle recomputes every
    // keep/drop decision, so the gate hashes the SAMPLE itself (counts
    // + id sums per domain), not a statistic of it.
    Q("q141_hash_sampling",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val srcNum = col("source").substr(lit(4), lit(10)).cast("int")
        val rate = ((srcNum % 4) + 1).cast("double") / lit(5.0)
        graft.operators.Curation.hashSample(d, "doc_id", rate)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      },
      Some(RelationalQueries5.hashSampleOracle)),

    // Bucketed-edge PageRank (Graph.pageRankBucketed): q118's graph and
    // arithmetic, but the degree-annotated edge table is MATERIALIZED as
    // a bucketed catalog table on src (Layout.bucketize) and never
    // cached — each of the 4 iterations joins the edge buckets
    // co-partitioned with zero edge-side exchange; only the slim rank
    // frame moves. The 100 TB iteration shape made runnable (PlanSpec
    // asserts the plan). Bucketing is physical layout: the answer — and
    // the oracle — are identical to q118's.
    Q("q145_bucketed_pagerank",
      (spark, dir) => {
        val o = Tables.load(spark, dir, "orders")
        val l = Tables.load(spark, dir, "lineitem")
        // each source table contributes its OWN content fingerprint
        val fpO = Tables.fingerprint(o, "o_orderkey", s"$dir/orders_degedges")
        val fpL = Tables.fingerprint(l, "l_orderkey", s"$dir/lineitem_degedges")
        val deg = graft.operators.Graph.degreeEdges(
          customerSupplierEdges(spark, dir))
        val tbl = graft.operators.Layout.bucketize(spark, deg,
          s"graft_bucketed_degedges_${fpO}_$fpL", 8, "src")
        graft.operators.Graph.pageRankBucketed(tbl, iterations = 4)
          .orderBy(desc("pr"), asc("node"))
          .limit(20)
      },
      Some(pageRankOracle(4, seedsSql = None))),

    // Deterministic epoch shuffle: every training epoch re-orders the
    // corpus by unsigned mix64(doc_id + epoch·1000003) — reproducible,
    // RNG-free, retry-stable, and a DIFFERENT permutation per epoch.
    // No global sort anywhere: the gate's per-epoch head-50 comes from
    // the bottom-k-by-hash aggregator (≤ k rows per epoch per map
    // task); a full-epoch materialization at scale is repartitionByRange
    // + sortWithinPartitions on the same key. The oracle replays the
    // hash chain and the unsigned order exactly.
    Q("q153_epoch_shuffle",
      (spark, dir) => {
        import graft.functions.TextFunctions
        val d = Tables.load(spark, dir, "documents").select(col("doc_id"))
        val mixFlip = udf((x: Long) => TextFunctions.mix64(x) ^ Long.MinValue)
        val epochs = spark.range(3).select(col("id").as("epoch"))
        d.crossJoin(epochs)
          .select(col("epoch"), col("doc_id"),
            mixFlip(col("doc_id") + col("epoch") * lit(1000003L)).as("_h"))
          .groupBy(col("epoch"))
          .agg(graft.plans.BottomKAggregator.bottom_k_sample(50)(
            col("_h"), col("doc_id").cast("double")).as("head"))
          .select(col("epoch"), posexplode(col("head")))
          .select(col("epoch"), (col("pos") + 1).cast("int").as("pos"),
            col("col").cast("long").as("doc_id"))
      },
      Some(s"""WITH base AS (
             |  SELECT e.epoch, d.doc_id FROM documents d
             |  CROSS JOIN (VALUES (0), (1), (2)) e(epoch)),
             |${RelationalQueries5.mix64Stages("base", Seq("epoch", "doc_id"), "CAST(doc_id + epoch * 1000003 AS HUGEINT)")},
             |ranked AS (SELECT epoch, doc_id,
             |    row_number() OVER (PARTITION BY epoch ORDER BY vu) AS pos
             |  FROM mixed)
             |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(pos AS INT) AS pos, doc_id
             |FROM ranked WHERE pos <= 50""".stripMargin)),

    // MODEL-BASED quality scoring (QualityModel): count-sketch hashed
    // bag-of-words + a linear classifier trained by distillation from
    // the q177 rule battery (rules label, the model learns) — the
    // CCNet shape production curation stacks run next to heuristics.
    // The trainer is the integer-exact online margin perceptron (see
    // QualityModel's scaladoc for why not exp-logistic or fixed-point
    // GD), and the oracle replays EVERYTHING: labels (the gopher rule
    // chain), both fnv1a64 feature probes, the deterministic sample
    // (EACH class's mix64 bottom-SampleCap docs — the constant-bounded
    // per-class cap that keeps the driver collect O(1) at any corpus
    // size or label skew), the ENTIRE sequential fit —
    // one list_reduce folding 48 epochs of id-ordered updates — and
    // every per-doc integer score + verdict. One flipped label, one
    // mis-hashed probe, or one mis-ordered update moves some score.
    // Learned behavior (not gated, but real, measured at all three
    // SFs): zero sample error everywhere; at the two fit-sized scales
    // zero false keeps and every planted violator rejected; at sf0.1
    // (5007 docs scored from a 1024-doc capped sample) exactly ONE
    // held-out false keep — planted 50004, the bullet-list doc, at
    // score +340 just over the boundary — the honest generalization
    // cost of a constant-bounded sample (margin 32→256 and epochs
    // 128→512 were swept; the miss is sample-composition, not
    // convergence).
    Q("q185_quality_classifier",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(TextQueries.qualityPlanted.toDF("doc_id", "text"))
        graft.operators.QualityModel.classify(d, "doc_id", "text",
            TextQueries.gopherRules(col("text")).keep)
          .select(col("id").as("doc_id"), col("label"),
            col("score"), col("pred"), col("in_sample"))
      },
      Some(q185Oracle)),

    // CLASSIFIER DRIFT (the drift family's MODEL member, completing
    // corpus/embedding/vocab/mixture + model): the q185 quality
    // classifier fitted on two epochs and compared weight-for-weight.
    // Epoch A = even docs ∪ the planted battery; epoch B = odd docs ∪
    // planted, with a symbol-spam degradation on %10==3 docs (flips
    // their gopher keep label) — a real label-distribution shift, so
    // the fit must move. Output: all 65 integer weights side by side
    // with the delta — the monitor a pipeline owner reads before
    // trusting a refit gate. Both fits are exact-integer perceptrons;
    // the oracle replays BOTH (the prefix-parameterized classifier
    // chain) and diffs the weight vectors, bit-for-bit.
    Q("q249_classifier_drift",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        import graft.operators.QualityModel
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = TextQueries.qualityPlanted.toDF("doc_id", "text")
        val epochA = d.filter(col("doc_id") % 2 === 0).unionByName(planted)
        val epochB = d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 3,
              concat(col("text"), lit(" ### ### ### ### ### ### ### ###")))
              .otherwise(col("text")).as("text"))
          .unionByName(planted)
        val wOld = QualityModel.fitWeights(epochA, "doc_id", "text",
          TextQueries.gopherRules(col("text")).keep, QualityModel.SampleCap)
        val wNew = QualityModel.fitWeights(epochB, "doc_id", "text",
          TextQueries.gopherRules(col("text")).keep, QualityModel.SampleCap)
        (0 until QualityModel.Dim)
          .map(i => (i.toLong, wOld(i), wNew(i), wNew(i) - wOld(i)))
          .toDF("b", "w_old", "w_new", "delta")
      },
      Some(s"""WITH acorpus AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
             |  UNION ALL ${TextQueries.qualityPlantedSql}),
             |bcorpus AS (
             |  SELECT doc_id, CASE WHEN doc_id % 10 = 3
             |      THEN text || ' ### ### ### ### ### ### ### ###'
             |      ELSE text END AS text
             |  FROM documents WHERE doc_id % 2 = 1
             |  UNION ALL ${TextQueries.qualityPlantedSql}),
             |${classifierCtes("acorpus", "ea")},
             |${classifierCtes("bcorpus", "eb")}
             |SELECT CAST(g.i - 1 AS BIGINT) AS b,
             |  CAST(a.w[g.i] AS BIGINT) AS w_old,
             |  CAST(b.w[g.i] AS BIGINT) AS w_new,
             |  CAST(b.w[g.i] - a.w[g.i] AS BIGINT) AS delta
             |FROM eawfit a, ebwfit b,
             |  generate_series(1, ${graft.operators.QualityModel.Dim}) g(i)""".stripMargin)),

    // CLASSIFIER CALIBRATION SWEEP — the evaluation layer every learned
    // gate ships with: the q185 (label, score) table swept over a fixed
    // 13-point threshold grid spanning the score range, yielding the
    // full confusion matrix + precision/recall per operating point (the
    // curve a pipeline owner reads to PICK the gate threshold; q185's
    // pred is the t = 0 row). Counts are exact integers; the two ratios
    // divide once and round once (zero denominators floored at 1 →
    // exact 0.0 both engines). The oracle replays the ENTIRE fit yet
    // again (shared classifierCtes) plus the sweep — a one-unit score
    // drift on one doc moves a cell of some confusion row.
    Q("q208_classifier_calibration",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(TextQueries.qualityPlanted.toDF("doc_id", "text"))
        val v = graft.operators.QualityModel.classify(d, "doc_id", "text",
          TextQueries.gopherRules(col("text")).keep)
        val ts = Seq(-3200L, -1600L, -800L, -400L, -200L, -100L, 0L,
          100L, 200L, 400L, 800L, 1600L, 3200L).toDF("threshold")
        v.crossJoin(broadcast(ts))
          .groupBy(col("threshold"))
          .agg(
            sum(when(col("label") === 1 && col("score") > col("threshold"),
              1L).otherwise(0L)).as("tp"),
            sum(when(col("label") === 0 && col("score") > col("threshold"),
              1L).otherwise(0L)).as("fp"),
            sum(when(col("label") === 1 && col("score") <= col("threshold"),
              1L).otherwise(0L)).as("fn"),
            sum(when(col("label") === 0 && col("score") <= col("threshold"),
              1L).otherwise(0L)).as("tn"))
          .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
            round(col("tp").cast("double") /
              greatest(col("tp") + col("fp"), lit(1L)), 6).as("prec"),
            round(col("tp").cast("double") /
              greatest(col("tp") + col("fn"), lit(1L)), 6).as("rec"))
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL ${TextQueries.qualityPlantedSql}),
             |${classifierCtes("corpus")},
             |v AS (SELECT l.doc_id, l.y, sc.z FROM lab l JOIN sc USING (doc_id)),
             |th AS (SELECT CAST(unnest([-3200, -1600, -800, -400, -200, -100,
             |    0, 100, 200, 400, 800, 1600, 3200]) AS BIGINT) AS threshold),
             |cagg AS (SELECT t.threshold,
             |    CAST(sum(CASE WHEN v.y = 1 AND v.z > t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             |    CAST(sum(CASE WHEN v.y = 0 AND v.z > t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             |    CAST(sum(CASE WHEN v.y = 1 AND v.z <= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             |    CAST(sum(CASE WHEN v.y = 0 AND v.z <= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS tn
             |  FROM th t CROSS JOIN v GROUP BY 1)
             |SELECT threshold, tp, fp, fn, tn,
             |  round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6) AS prec,
             |  round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6) AS rec
             |FROM cagg""".stripMargin)),

    // STREAMING LEARNED GATE — the q185 classifier at INGEST time, the
    // streaming cell of the learned-curation family (rules gate q183 /
    // learned batch q192 / learned stream here): weights fit once
    // batch-side (the capped per-class sample), then the stream is
    // scored ROW-WISE by a scorer closing over the 65 weights —
    // by linearity w·x equals the per-token accumulation
    // w[p1(tok)]+w[p2(tok)] summed + bias (spec-proven equal to the
    // distributed dot product) — so the gate is STATELESS: Append mode,
    // zero state store, no aggregation anywhere on the stream. Same
    // fit replay as q185's oracle; streaming correctness IS batch
    // equality.
    Q("q207_streaming_learned_gate",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(TextQueries.qualityPlanted.toDF("doc_id", "text"))
        val inDir = s"/tmp/graft-qgstream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(d, "doc_id", s"$dir/documents_qgstream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          d.write.mode("overwrite").parquet(inDir)
        val w = graft.operators.QualityModel.fitWeights(d, "doc_id", "text",
          TextQueries.gopherRules(col("text")).keep)
        val score = graft.operators.QualityModel.scoreText(w)
        val scored = graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => stream
            .select(col("doc_id"), score(col("text")).as("score"))
            .select(col("doc_id"), col("score"),
              when(col("score") > 0, 1L).otherwise(0L).as("pred")),
          org.apache.spark.sql.streaming.OutputMode.Append,
          s"q207_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
        d.select(col("doc_id"),
            when(TextQueries.gopherRules(col("text")).keep, 1L)
              .otherwise(0L).as("label"))
          .join(scored, Seq("doc_id"))
          .select(col("doc_id"), col("label"), col("score"), col("pred"))
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL ${TextQueries.qualityPlantedSql}),
             |${classifierCtes("corpus")}
             |SELECT l.doc_id, l.y AS label, sc.z AS score,
             |  CAST(CASE WHEN sc.z > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
             |FROM lab l JOIN sc USING (doc_id)""".stripMargin)),

    // TRIGRAM STUPID-BACKOFF surprisal (Curation.trigramBackoffTokens):
    // q180's bigram LM extended one order with the Brants et al. 2007
    // backoff, and the first surprisal query where backoff is REAL —
    // counts fit on the even-id half, scoring on the held-out odd half,
    // so unseen test trigrams actually walk the ladder (trigram →
    // α·bigram → α²·unigram → α³·OOV). A planted odd-id doc carries
    // words the train split cannot contain ('zzzunseen', 'qqnovel') so
    // the OOV arm provably fires. α = 2/5 exact rational: every level
    // is −ln(integer/integer), fixed to micro-nats per trigram TYPE,
    // exact-integer outlier cross-multiplication — one double division
    // + one ln per type is the only float anywhere.
    Q("q188_trigram_backoff",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(Seq((60001L,
            "the data zzzunseen pipeline holds qqnovel words beyond zzzunseen reach today"))
            .toDF("doc_id", "text"))
        Curation.trigramBackoffTokens(d, "doc_id",
            TextFunctions.tokens(lower(col("text"))), col("doc_id") % 2 === 0)
          .select(col("id").as("doc_id"), col("n_trigrams"),
            col("mean_surprisal"), col("is_outlier"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT 60001, 'the data zzzunseen pipeline holds qqnovel words beyond zzzunseen reach today'),
             |lt AS (SELECT doc_id, doc_id % 2 = 0 AS is_train,
             |    list_filter(string_split_regex(
             |      regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'),
             |      t -> t <> '') AS L
             |  FROM corpus),
             |tg AS (SELECT doc_id, is_train, L[i] AS u, L[i+1] AS v, L[i+2] AS w
             |  FROM lt, unnest(generate_series(1, len(L) - 2)) AS s(i)
             |  WHERE len(L) >= 3),
             |bg AS (SELECT doc_id, is_train, L[i] AS u, L[i+1] AS v
             |  FROM lt, unnest(generate_series(1, len(L) - 1)) AS s(i)
             |  WHERE len(L) >= 2),
             |ug AS (SELECT doc_id, is_train, unnest(L) AS u FROM lt),
             |tc3 AS (SELECT u, v, w, CAST(count(*) AS BIGINT) AS c3
             |  FROM tg WHERE is_train GROUP BY 1, 2, 3),
             |tc2 AS (SELECT u, v, CAST(count(*) AS BIGINT) AS c2
             |  FROM bg WHERE is_train GROUP BY 1, 2),
             |tc1 AS (SELECT u, CAST(count(*) AS BIGINT) AS c1
             |  FROM ug WHERE is_train GROUP BY 1),
             |tn AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM tc1),
             |tt AS (SELECT doc_id, u, v, w, CAST(count(*) AS BIGINT) AS m
             |  FROM tg WHERE NOT is_train GROUP BY 1, 2, 3, 4),
             |ty AS (SELECT u, v, w, CAST(sum(m) AS BIGINT) AS mt FROM tt GROUP BY 1, 2, 3),
             |sc AS (SELECT ty.u, ty.v, ty.w, ty.mt,
             |    CAST(round(-ln(CAST(CASE WHEN a.c3 IS NOT NULL THEN a.c3
             |        WHEN b2.c2 IS NOT NULL THEN 2 * b2.c2
             |        WHEN u1w.c1 IS NOT NULL THEN 4 * u1w.c1 ELSE 8 END AS DOUBLE)
             |      / CAST(CASE WHEN a.c3 IS NOT NULL THEN b1.c2
             |        WHEN b2.c2 IS NOT NULL THEN 5 * u1v.c1
             |        WHEN u1w.c1 IS NOT NULL THEN 25 * tn.n ELSE 125 * tn.n END AS DOUBLE))
             |      * 1000000) AS BIGINT) AS s
             |  FROM ty
             |  LEFT JOIN tc3 a ON a.u = ty.u AND a.v = ty.v AND a.w = ty.w
             |  LEFT JOIN tc2 b1 ON b1.u = ty.u AND b1.v = ty.v
             |  LEFT JOIN tc2 b2 ON b2.u = ty.v AND b2.v = ty.w
             |  LEFT JOIN tc1 u1v ON u1v.u = ty.v
             |  LEFT JOIN tc1 u1w ON u1w.u = ty.w
             |  CROSS JOIN tn),
             |gg AS (SELECT CAST(sum(s * mt) AS BIGINT) AS gt,
             |  CAST(sum(mt) AS BIGINT) AS gn FROM sc),
             |ds AS (SELECT t.doc_id, CAST(sum(t.m) AS BIGINT) AS n_trigrams,
             |    CAST(sum(t.m * sc.s) AS BIGINT) AS s_total
             |  FROM tt t JOIN sc ON sc.u = t.u AND sc.v = t.v AND sc.w = t.w
             |  GROUP BY 1)
             |SELECT doc_id, n_trigrams,
             |  round(CAST(s_total AS DOUBLE) / n_trigrams / 1000000, 4) AS mean_surprisal,
             |  CAST(CASE WHEN 4 * s_total * g.gn > 5 * g.gt * n_trigrams
             |    THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
             |FROM ds, gg g""".stripMargin)),

    // INTRA-DOCUMENT REPETITION (the Gopher/MassiveText duplicate
    // n-gram fraction): per doc, 1 − distinct/total word 3-grams — the
    // within-doc quality signal the corpus-level dedup family cannot
    // see (a doc repeating ITSELF dedups against nothing). Entirely
    // map-side: higher-order shingles + array_distinct per row, no
    // shuffle, no UDF. The verdict (rep_frac > 1/5) is the exact
    // integer cross-multiplication 5·(n−d) > n. Planted: a 'buy now'
    // spam loop that must flag and an all-distinct control that must
    // not.
    Q("q215_intradoc_repetition",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(Seq(
            (62001L, "buy now buy now buy now buy now buy now buy now buy now buy now"),
            (62002L, "a clean sentence with entirely distinct words throughout the body"))
            .toDF("doc_id", "text"))
        // ONE-PASS scalar kernel, not the HOF shingle pipeline: Catalyst's
        // CollapseProject inlines alias references into lambda bodies, so
        // the wordShingles form re-evaluates the tokenizing split for
        // EVERY shingle (O(len²) per doc — measured 13.9 s at sf0.1, and
        // pre-staging the columns still collapsed back to 5.3 s); the
        // per-row kernel is the distinctShinglesCol precedent and stays
        // linear (0.7 s)
        val repStats = udf((text: String) => {
          val ws = Option(text).getOrElse("")
            .toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
          if (ws.length < 3) (0L, 0L)
          else {
            val seen = new scala.collection.mutable.HashSet[String]
            var i = 0
            while (i + 2 < ws.length) {
              seen += (ws(i) + " " + ws(i + 1) + " " + ws(i + 2)); i += 1
            }
            ((ws.length - 2).toLong, seen.size.toLong)
          }
        })
        d.select(col("doc_id"), repStats(col("text")).as("_s"))
          .select(col("doc_id"), col("_s._1").as("n_ngrams"),
            col("_s._2").as("n_distinct"))
          .filter(col("n_ngrams") > 0)
          .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
            round(lit(1.0) - col("n_distinct").cast("double")
              / col("n_ngrams"), 6).as("rep_frac"),
            when((col("n_ngrams") - col("n_distinct")) * 5 > col("n_ngrams"),
              1L).otherwise(0L).as("flagged"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT 62001, 'buy now buy now buy now buy now buy now buy now buy now buy now'
             |  UNION ALL SELECT 62002, 'a clean sentence with entirely distinct words throughout the body'),
             |lt AS (SELECT doc_id, string_split_regex(
             |    lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS L
             |  FROM corpus),
             |sh AS (SELECT doc_id, list_transform(generate_series(0, len(L) - 3),
             |    i -> array_to_string(L[i + 1 : i + 3], ' ')) AS g
             |  FROM lt),
             |stats AS (SELECT doc_id, len(g) AS n, len(list_distinct(g)) AS d
             |  FROM sh WHERE len(g) > 0)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_ngrams,
             |  CAST(d AS BIGINT) AS n_distinct,
             |  round(1.0 - CAST(d AS DOUBLE) / n, 6) AS rep_frac,
             |  CAST(CASE WHEN (n - d) * 5 > n THEN 1 ELSE 0 END AS BIGINT)
             |    AS flagged
             |FROM stats""".stripMargin)),

    // EPOCH-SEEDED SHUFFLED PACKING — the other face of q213's order
    // knob: every trainer reshuffles data each epoch, DETERMINISTICALLY
    // (reproducible runs); here each epoch packs in mix64(id + epoch·P)
    // order within its shards, so the two epochs place the same docs at
    // different offsets while each epoch's order is a pure function of
    // (corpus, epoch). The gate hashes both epochs' full landings — a
    // drift in the hash, the order, or the running sum moves offsets.
    Q("q216_shuffled_packing",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val mixFlip = udf((x: Long) =>
          TextFunctions.mix64(x) ^ Long.MinValue)
        Seq(1L, 2L).map { ep =>
          val c = d.select(col("doc_id"), col("text"))
            .withColumn("shuf",
              mixFlip(col("doc_id") + lit(ep * 1000003L)))
          Curation.packSequences(c, "doc_id",
              TextFunctions.tokens(lower(col("text"))),
              budgetTokens = 128, shards = 8, orderCols = Seq("shuf"))
            .withColumn("epoch", lit(ep))
        }.reduce(_ unionByName _)
          .select(col("epoch"), col("doc_id"), col("shard"),
            col("n_tokens"), col("start_off"), col("seq_id"))
      },
      Some(s"""WITH tk AS (
             |  SELECT doc_id, len(string_split_regex(
             |    lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS n
             |  FROM documents),
             |ep AS (SELECT doc_id, n, e.epoch FROM tk
             |  CROSS JOIN (VALUES (1), (2)) e(epoch)),
             |${RelationalQueries5.mix64Stages("ep", Seq("doc_id", "n", "epoch"),
                  "CAST(doc_id + epoch * 1000003 AS HUGEINT)", prefix = "u")}
             |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
             |  CAST(doc_id % 8 AS BIGINT) AS shard, CAST(n AS BIGINT) AS n_tokens,
             |  CAST(coalesce(SUM(n) OVER (PARTITION BY epoch, doc_id % 8
             |    ORDER BY vu, doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |    AS start_off,
             |  CAST(coalesce(SUM(n) OVER (PARTITION BY epoch, doc_id % 8
             |    ORDER BY vu, doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 128 AS BIGINT)
             |    AS seq_id
             |FROM umixed""".stripMargin)),

    // CORPUS-WIDE LINE DEDUP (Curation.lineDedup) — the RefinedWeb/
    // CCNet boilerplate filter, the line-granularity member of the
    // dedup family (substring q172+ / line here / document q30): any
    // line occurring >= 3 times across the corpus is boilerplate and
    // every occurrence drops; docs reassemble from surviving lines in
    // order. The corpus is made genuinely multi-line by a
    // deterministic newline every 7 tokens (replayed token-exactly in
    // SQL), and half the docs (%4 in 0,1) carry a planted 'subscribe'
    // boilerplate line that must vanish everywhere; organic 7-token
    // line collisions dedup too. The gate hashes per-doc line counts,
    // dropped counts, and the sha256 of the reassembled text — one
    // mis-ordered or mis-dropped line moves a doc's sha.
    Q("q206_line_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val ml = d.select(col("doc_id"),
            TextFunctions.tokens(col("text")).as("_tk"))
          .select(col("doc_id"),
            expr("array_join(transform(sequence(0, CAST((size(_tk)-1) DIV 7 AS INT)), " +
              "i -> array_join(slice(_tk, i*7+1, 7), ' ')), '\n')").as("t0"))
          .select(col("doc_id"),
            when(col("doc_id") % 4 <= 1,
              concat(col("t0"), lit("\nsubscribe to our newsletter today")))
              .otherwise(col("t0")).as("text"))
        Curation.lineDedup(ml, "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_lines"), col("n_dropped"),
            col("clean_len"), col("content_sha"))
      },
      Some(s"""WITH tk AS (
             |  SELECT doc_id, string_split_regex(
             |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
             |  FROM documents),
             |ml AS (SELECT doc_id, array_to_string(
             |    list_transform(generate_series(0, (len(t) - 1) // 7),
             |      i -> array_to_string(t[i*7 + 1 : i*7 + 7], ' ')),
             |    chr(10)) AS t0
             |  FROM tk),
             |corpus AS (SELECT doc_id,
             |    CASE WHEN doc_id % 4 <= 1
             |      THEN t0 || chr(10) || 'subscribe to our newsletter today'
             |      ELSE t0 END AS text
             |  FROM ml),
             |lns AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
             |ln AS (SELECT doc_id, i.i - 1 AS pos, ls[i.i] AS line
             |  FROM lns, unnest(generate_series(1, len(ls))) AS i(i)),
             |bad AS (SELECT line FROM ln GROUP BY line HAVING count(*) >= 3)
             |SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
             |  CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dropped,
             |  CAST(length(coalesce(string_agg(
             |    CASE WHEN b.line IS NULL THEN l.line END, chr(10)
             |    ORDER BY l.pos), '')) AS BIGINT) AS clean_len,
             |  sha256(coalesce(string_agg(
             |    CASE WHEN b.line IS NULL THEN l.line END, chr(10)
             |    ORDER BY l.pos), '')) AS content_sha
             |FROM ln l LEFT JOIN bad b USING (line)
             |GROUP BY l.doc_id""".stripMargin)),

    // INCREMENTAL line dedup (Curation.lineDedupIncremental) — q206's
    // daily-ingest form: the epoch's boilerplate line set is computed
    // once (the saved index; in production bucketed on the line hash),
    // and each incoming doc drops exactly the lines that index marks.
    // Incoming docs are derived three-liners: a NOVEL per-doc line
    // (must survive), the planted 'subscribe' boilerplate (epoch count
    // >= 3 — must drop), and the doc's own first epoch line (drops only
    // if organically boilerplate — decided by the replayed index).
    // Incoming-only repetition deliberately does NOT dedup (not
    // boilerplate until the epoch roll sees it — the epoch-index
    // semantics the incremental media/substring gates share).
    Q("q209_incremental_line_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val base = d.select(col("doc_id"),
            TextFunctions.tokens(col("text")).as("_tk"))
          .select(col("doc_id"), col("_tk"),
            expr("array_join(transform(sequence(0, CAST((size(_tk)-1) DIV 7 AS INT)), " +
              "i -> array_join(slice(_tk, i*7+1, 7), ' ')), '\n')").as("t0"))
        val epoch = base.select(col("doc_id"),
          when(col("doc_id") % 4 <= 1,
            concat(col("t0"), lit("\nsubscribe to our newsletter today")))
            .otherwise(col("t0")).as("text"))
        val incoming = base.select((col("doc_id") + 70000L).as("doc_id"),
          concat(lit("fresh line for doc "), col("doc_id").cast("string"),
            lit("\nsubscribe to our newsletter today\n"),
            expr("array_join(slice(_tk, 1, 7), ' ')")).as("text"))
        Curation.lineDedupIncremental(epoch, incoming, "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_lines"), col("n_dropped"),
            col("clean_len"), col("content_sha"))
      },
      Some(s"""WITH tk AS (
             |  SELECT doc_id, string_split_regex(
             |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
             |  FROM documents),
             |ml AS (SELECT doc_id, t, array_to_string(
             |    list_transform(generate_series(0, (len(t) - 1) // 7),
             |      i -> array_to_string(t[i*7 + 1 : i*7 + 7], ' ')),
             |    chr(10)) AS t0
             |  FROM tk),
             |epoch AS (SELECT doc_id,
             |    CASE WHEN doc_id % 4 <= 1
             |      THEN t0 || chr(10) || 'subscribe to our newsletter today'
             |      ELSE t0 END AS text
             |  FROM ml),
             |eln AS (SELECT unnest(string_split(text, chr(10))) AS line FROM epoch),
             |bad AS (SELECT line FROM eln GROUP BY line HAVING count(*) >= 3),
             |inc AS (SELECT doc_id + 70000 AS doc_id,
             |    'fresh line for doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
             |    'subscribe to our newsletter today' || chr(10) ||
             |    array_to_string(t[1:7], ' ') AS text
             |  FROM ml),
             |ilns AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM inc),
             |iln AS (SELECT doc_id, i.i - 1 AS pos, ls[i.i] AS line
             |  FROM ilns, unnest(generate_series(1, len(ls))) AS i(i))
             |SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
             |  CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dropped,
             |  CAST(length(coalesce(string_agg(
             |    CASE WHEN b.line IS NULL THEN l.line END, chr(10)
             |    ORDER BY l.pos), '')) AS BIGINT) AS clean_len,
             |  sha256(coalesce(string_agg(
             |    CASE WHEN b.line IS NULL THEN l.line END, chr(10)
             |    ORDER BY l.pos), '')) AS content_sha
             |FROM iln l LEFT JOIN bad b USING (line)
             |GROUP BY l.doc_id""".stripMargin)),

    // Interpolated KNESER-NEY bigram surprisal (Curation.
    // kneserNeyTokens): the production perplexity filter (KenLM's
    // default smoothing), completing the LM ladder add-one (q180) →
    // stupid backoff (q188) → KN here. Discount D = 3/4 exact
    // rational: every estimate is one integer ratio (see the operator
    // scaladoc's three-arm table — discounted-ML + continuation
    // interpolation / bare continuation / OOV floor), one ln per test
    // bigram TYPE, micro-nat scores, exact-integer outlier cross-
    // multiplication. Train on even ids, score the odd half; the
    // planted odd doc carries words the train split cannot contain
    // ('zzgone', 'qqfresh') so the OOV floor provably fires, and
    // held-out text guarantees unseen-bigram interpolation and
    // unseen-context continuation arms fire too.
    Q("q204_kneser_ney",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(Seq((61001L,
            "the data zzgone pipeline holds qqfresh words beyond zzgone reach today"))
            .toDF("doc_id", "text"))
        Curation.kneserNeyTokens(d, "doc_id",
            TextFunctions.tokens(lower(col("text"))), col("doc_id") % 2 === 0)
          .select(col("id").as("doc_id"), col("n_bigrams"),
            col("mean_surprisal"), col("is_outlier"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT 61001, 'the data zzgone pipeline holds qqfresh words beyond zzgone reach today'),
             |lt AS (SELECT doc_id, doc_id % 2 = 0 AS is_train,
             |    list_filter(string_split_regex(
             |      regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'),
             |      t -> t <> '') AS L
             |  FROM corpus),
             |kbg AS (SELECT doc_id, is_train, L[i] AS u, L[i+1] AS v
             |  FROM lt, unnest(generate_series(1, len(L) - 1)) AS s(i)
             |  WHERE len(L) >= 2),
             |kc2 AS (SELECT u, v, CAST(count(*) AS BIGINT) AS c
             |  FROM kbg WHERE is_train GROUP BY 1, 2),
             |kctx AS (SELECT u, CAST(sum(c) AS BIGINT) AS cu,
             |    CAST(count(*) AS BIGINT) AS n1f FROM kc2 GROUP BY u),
             |knc AS (SELECT v, CAST(count(*) AS BIGINT) AS ncont
             |  FROM kc2 GROUP BY v),
             |knt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM kc2),
             |ktt AS (SELECT doc_id, u, v, CAST(count(*) AS BIGINT) AS m
             |  FROM kbg WHERE NOT is_train GROUP BY 1, 2, 3),
             |kty AS (SELECT u, v, CAST(sum(m) AS BIGINT) AS mt FROM ktt GROUP BY 1, 2),
             |ksc AS (SELECT y.u, y.v, y.mt,
             |    CAST(round(-ln(CAST(
             |      CASE WHEN x.cu IS NOT NULL AND (b.c IS NOT NULL OR n.ncont IS NOT NULL)
             |        THEN greatest(4 * coalesce(b.c, 0) - 3, 0) * t.t
             |          + 3 * x.n1f * coalesce(n.ncont, 0)
             |      WHEN n.ncont IS NOT NULL THEN n.ncont
             |      ELSE 1 END AS DOUBLE) / CAST(
             |      CASE WHEN x.cu IS NOT NULL AND (b.c IS NOT NULL OR n.ncont IS NOT NULL)
             |        THEN 4 * x.cu * t.t
             |      WHEN n.ncont IS NOT NULL THEN t.t
             |      ELSE 4 * t.t END AS DOUBLE)) * 1000000) AS BIGINT) AS s
             |  FROM kty y LEFT JOIN kc2 b ON b.u = y.u AND b.v = y.v
             |  LEFT JOIN kctx x ON x.u = y.u
             |  LEFT JOIN knc n ON n.v = y.v
             |  CROSS JOIN knt t),
             |kgg AS (SELECT CAST(sum(s * mt) AS BIGINT) AS gt,
             |  CAST(sum(mt) AS BIGINT) AS gn FROM ksc),
             |kds AS (SELECT t.doc_id, CAST(sum(t.m) AS BIGINT) AS n_bigrams,
             |    CAST(sum(t.m * ksc.s) AS BIGINT) AS s_total
             |  FROM ktt t JOIN ksc ON ksc.u = t.u AND ksc.v = t.v
             |  GROUP BY 1)
             |SELECT doc_id, n_bigrams,
             |  round(CAST(s_total AS DOUBLE) / n_bigrams / 1000000, 4) AS mean_surprisal,
             |  CAST(CASE WHEN 4 * s_total * g.gn > 5 * g.gt * n_bigrams
             |    THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
             |FROM kds, kgg g""".stripMargin)),

    // DoReMi-SHAPED domain reweighting (Curation.doremiWeights): the
    // iterative data-mixing step above q93's flat special case —
    // domains the MIXTURE unigram LM explains worse than their own LM
    // (positive excess loss, the under-represented ones) get
    // multiplicatively upweighted, three fixed rounds. Everything is
    // integer counts/products + one −ln(int/int) per (token[, round])
    // fixed to micro-nats; the update is the LINEARIZED multiplicative
    // weights (exp() would not be bit-identical cross-engine). The
    // oracle unrolls all three rounds: mixture denominators, weighted
    // token scores, per-domain losses, truncating-division excess, and
    // the final weights and shares.
    Q("q199_doremi_weights",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        Curation.doremiWeights(d, "doc_id", "text", "lang")
      },
      Some(q199Oracle)),

    // EVAL-SET SUBSTRING CONTAMINATION — the verbatim-leakage report
    // every LLM paper publishes, and the substring-level complement of
    // q89's n-gram decontamination (n-gram overlap catches paraphrase-
    // level sharing; this catches EXACT 64-char runs of training text
    // inside eval docs — the Lee et al. memorization risk). The
    // training split's once-per-epoch substringIndex (the q174 kernel,
    // sides swapped: eval probes, training is the index) scores every
    // eval doc; three planted regimes pin the dial — a verbatim copy
    // of a training doc (frac ≈ 1), a half-copy with a novel tail
    // (frac strictly between), and a fully novel doc (frac 0). The
    // leaked flag is any verbatim window hit.
    Q("q198_eval_contamination",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val train = d.filter(col("doc_id") % 17 =!= 3)
        val tail = " with a freshly written analysis section no training doc contains"
        val evalSet = d.filter(col("doc_id") % 17 === 3)
          .unionByName(train.orderBy(col("doc_id")).limit(2)
            .select((col("doc_id") + 70000L).as("doc_id"), col("text")))
          .unionByName(train.orderBy(col("doc_id")).limit(1)
            .select((col("doc_id") + 80000L).as("doc_id"),
              concat(substring(col("text"), lit(1),
                (length(col("text")) / 2).cast("int")), lit(tail)).as("text")))
        graft.operators.Dedup.incrementalDuplicatedSubstrings(
            graft.operators.Dedup.substringIndex(train, "doc_id", "text"),
            evalSet, "doc_id", "text")
          .select(col("in_id").as("eval_id"), col("n_windows"),
            col("n_dup_windows"), col("dup_frac"),
            when(col("n_dup_windows") > 0, 1L).otherwise(0L).as("leaked"))
      },
      Some {
        def fold(slice: String): String =
          s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), $slice),
             |    (h, b) -> (((h & 18446744073709551360) +
             |      CAST(xor(CAST(h & 255 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
             |      * 1099511628211) & 18446744073709551615)""".stripMargin
        def winCtes(src: String, p: String): String =
          s"""${p}codes AS MATERIALIZED (
             |  SELECT id, list_transform(list_filter(string_split(text, ''), c -> c <> ''),
             |    c -> CASE WHEN unicode(c) BETWEEN 0 AND 127 THEN CAST(unicode(c) AS HUGEINT)
             |      ELSE CAST(error('non-ASCII byte in q198 oracle') AS HUGEINT) END) AS cs
             |  FROM $src WHERE text IS NOT NULL),
             |${p}pos AS (SELECT id, cs, unnest(generate_series(1, len(cs) - 63)) AS i
             |  FROM ${p}codes WHERE len(cs) >= 64),
             |${p}wins AS MATERIALIZED (
             |  SELECT id, ${fold("cs[i:i+63]")} AS h
             |  FROM ${p}pos WHERE ${fold("cs[i:i+3]")} % 16 = 0)""".stripMargin
        val tail = " with a freshly written analysis section no training doc contains"
        s"""WITH train AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 17 <> 3),
           |lead2 AS (SELECT id, text FROM train ORDER BY id LIMIT 2),
           |evals AS (
           |  SELECT doc_id AS id, text FROM documents WHERE doc_id % 17 = 3
           |  UNION ALL SELECT id + 70000, text FROM lead2
           |  UNION ALL SELECT id + 80000, substr(text, 1, length(text) // 2) || '$tail'
           |    FROM (SELECT id, text FROM train ORDER BY id LIMIT 1)),
           |${winCtes("train", "t")},
           |${winCtes("evals", "e")},
           |tidx AS (SELECT DISTINCT h FROM twins),
           |ew AS (SELECT id, count(*) AS n_windows FROM ewins GROUP BY id),
           |ed AS (SELECT id, count(*) AS n_dup FROM ewins
           |  WHERE h IN (SELECT h FROM tidx) GROUP BY id)
           |SELECT v.id AS eval_id,
           |  CAST(coalesce(ew.n_windows, 0) AS BIGINT) AS n_windows,
           |  CAST(coalesce(ed.n_dup, 0) AS BIGINT) AS n_dup_windows,
           |  round(CASE WHEN coalesce(ew.n_windows, 0) = 0 THEN 0.0
           |    ELSE CAST(coalesce(ed.n_dup, 0) AS DOUBLE) / ew.n_windows END, 6) AS dup_frac,
           |  CAST(CASE WHEN coalesce(ed.n_dup, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS leaked
           |FROM evals v LEFT JOIN ew ON ew.id = v.id LEFT JOIN ed ON ed.id = v.id""".stripMargin
      }),

    // SURGICAL DECONTAMINATION (Dedup.exciseContaminatedSpans) — the
    // REMOVAL half of q198's report, the Llama-style cleanup: training
    // docs carrying benchmark text get the LEAKED SPANS excised and
    // keep the rest, instead of q90-style whole-doc dropping. Probe =
    // training anchored windows against the eval set's DISTINCT window
    // index (broadcast — benchmark suites are tiny), then the gated
    // island-merge/cut machinery. Fixture plants two +90000 training
    // docs embedding a full eval doc between prefix/suffix padding —
    // the cut must remove exactly the anchored-window-covered run of
    // the eval text and stitch prefix+suffix (plus any residual
    // anchored remnant shorter than a window) back together; the gate
    // hashes every training doc's span count, removed chars, and the
    // sha256 of the cleaned text. Oracle shares q182's factored window
    // + cut-tail CTEs (q175/q182 re-gate on the refactor).
    Q("q221_surgical_decontamination",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val evalSet = d.filter(col("doc_id") % 17 === 3)
        val planted = evalSet.orderBy(col("doc_id")).limit(2)
          .select((col("doc_id") + 90000L).as("doc_id"),
            concat(lit("prefix padding words before the leaked benchmark passage "),
              col("text"),
              lit(" suffix padding words after the leaked benchmark passage"))
              .as("text"))
        val train = d.filter(col("doc_id") % 17 =!= 3).unionByName(planted)
        graft.operators.Dedup.exciseContaminatedSpans(
            train, evalSet, "doc_id", "text")
          .select(col("id"), col("n_spans"), col("removed_chars"),
            col("clean_len"), sha2(col("clean_text"), 256).as("clean_sha"))
      },
      Some {
        s"""WITH evals AS (
           |  SELECT doc_id AS id, text FROM documents WHERE doc_id % 17 = 3),
           |train AS (
           |  SELECT doc_id AS id, text FROM documents WHERE doc_id % 17 <> 3
           |  UNION ALL
           |  SELECT id + 90000,
           |    'prefix padding words before the leaked benchmark passage ' || text
           |      || ' suffix padding words after the leaked benchmark passage'
           |  FROM (SELECT id, text FROM evals ORDER BY id LIMIT 2)),
           |${TextQueries.spanWindowCtes("evals", "e")},
           |${TextQueries.spanWindowCtes("train", "t")},
           |eidx AS (SELECT DISTINCT h FROM ewins),
           |tdw AS (SELECT w.id, w.i FROM twins w JOIN eidx USING (h))
           |${TextQueries.spanCutTail("train", "t")}
           |SELECT id, n_spans, removed_chars,
           |  CAST(coalesce(length(clean_text), 0) AS BIGINT) AS clean_len,
           |  sha256(clean_text) AS clean_sha
           |FROM tclean""".stripMargin
      }),

    // EVAL-SIDE 13-GRAM CONTAMINATION REPORT
    // (Curation.evalContaminationReport) — the GPT-3 appendix-C
    // direction, complementing q89/q90 (training-side flags) and
    // q198/q200/q221 (window/semantic/excision): per EVAL doc, what
    // fraction of its distinct 13-grams appear anywhere in training,
    // verdict 'dirty' on any collision (releases then report the clean
    // subset's metrics separately). Fixture plants the lowest-id eval
    // doc verbatim inside a +90000 training doc → that doc must read
    // overlap 1.0 / dirty; short docs read n_grams 0 / clean. The
    // broadcast direction flips vs q89: eval grams broadcast, the
    // 100-TB training side never shuffles.
    Q("q222_eval_contamination_report",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val evalSet = d.filter(col("doc_id") % 17 === 3)
        val planted = evalSet.orderBy(col("doc_id")).limit(1)
          .select((col("doc_id") + 90000L).as("doc_id"),
            concat(lit("prefix padding words before the leaked benchmark passage "),
              col("text"),
              lit(" suffix padding words after the leaked benchmark passage"))
              .as("text"))
        val train = d.filter(col("doc_id") % 17 =!= 3).unionByName(planted)
        graft.operators.Curation.evalContaminationReport(
          train, evalSet, "doc_id", "text", n = 13)
      },
      Some("""WITH evals AS (
             |  SELECT doc_id AS id, text FROM documents WHERE doc_id % 17 = 3),
             |train AS (
             |  SELECT doc_id AS id, text FROM documents WHERE doc_id % 17 <> 3
             |  UNION ALL
             |  SELECT id + 90000,
             |    'prefix padding words before the leaked benchmark passage ' || text
             |      || ' suffix padding words after the leaked benchmark passage'
             |  FROM (SELECT id, text FROM evals ORDER BY id LIMIT 1)),
             |ew AS (SELECT id, string_split_regex(
             |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w FROM evals),
             |eg AS (SELECT DISTINCT id, array_to_string(w[i:i+12], ' ') AS g
             |  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 12)) AS i
             |        FROM ew WHERE len(w) >= 13)),
             |tw AS (SELECT string_split_regex(
             |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w FROM train),
             |tg AS (SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS g
             |  FROM (SELECT w, unnest(generate_series(1, len(w) - 12)) AS i
             |        FROM tw WHERE len(w) >= 13)),
             |ng AS (SELECT id, CAST(count(*) AS BIGINT) AS n_grams FROM eg GROUP BY 1),
             |hits AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dirty
             |  FROM eg JOIN tg USING (g) GROUP BY 1)
             |SELECT v.id, coalesce(ng.n_grams, 0) AS n_grams,
             |  coalesce(h.n_dirty, 0) AS n_dirty,
             |  CASE WHEN coalesce(ng.n_grams, 0) > 0
             |    THEN round(CAST(coalesce(h.n_dirty, 0) AS DOUBLE) / ng.n_grams, 6)
             |    ELSE 0.0 END AS overlap,
             |  CASE WHEN coalesce(h.n_dirty, 0) > 0 THEN 'dirty' ELSE 'clean' END
             |    AS verdict
             |FROM evals v LEFT JOIN ng ON ng.id = v.id
             |  LEFT JOIN hits h ON h.id = v.id""".stripMargin)),

    // NORMALIZED CONTAMINATION GRAMS — the q222 defense upgraded per
    // GPT-3 appendix C: raw whitespace 13-grams are case- and
    // punctuation-sensitive, so a train doc carrying an eval passage
    // REFORMATTED (here: uppercased with commas injected between every
    // word, planted at +91000) evades the raw filter entirely while
    // leaking the same text. Both gram bases run side by side over the
    // same corpus: the planted leak reads clean under raw grams and
    // overlap-1.0 dirty under normalized grams (lowercase \w+ words,
    // punctuation dropped) — `evaded` flags exactly that gap. Raw
    // stays available for byte-exact audits; normalized is the basis
    // to defend with.
    Q("q240_normalized_contamination",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val evalSet = d.filter(col("doc_id") % 17 === 3)
        val planted = evalSet.orderBy(col("doc_id")).limit(1)
          .select((col("doc_id") + 91000L).as("doc_id"),
            regexp_replace(upper(col("text")), " ", " , ").as("text"))
        val train = d.filter(col("doc_id") % 17 =!= 3).unionByName(planted)
        val raw = Curation.evalContaminationReport(
            train, evalSet, "doc_id", "text", n = 13)
          .select(col("id"), col("n_grams").as("n_grams_raw"),
            col("n_dirty").as("n_dirty_raw"), col("verdict").as("verdict_raw"))
        val norm = Curation.evalContaminationReport(
            train, evalSet, "doc_id", "text", n = 13, normalized = true)
          .select(col("id"), col("n_grams").as("n_grams_norm"),
            col("n_dirty").as("n_dirty_norm"), col("verdict").as("verdict_norm"))
        raw.join(norm, Seq("id"))
          .select(col("id"), col("n_grams_raw"), col("n_dirty_raw"),
            col("verdict_raw"), col("n_grams_norm"), col("n_dirty_norm"),
            col("verdict_norm"),
            when(col("verdict_raw") === "clean" &&
              col("verdict_norm") === "dirty", 1L).otherwise(0L).as("evaded"))
      },
      Some("""WITH evals AS (
             |  SELECT doc_id AS id, text FROM documents WHERE doc_id % 17 = 3),
             |train AS (
             |  SELECT doc_id AS id, text FROM documents WHERE doc_id % 17 <> 3
             |  UNION ALL
             |  SELECT id + 91000, regexp_replace(upper(text), ' ', ' , ', 'g')
             |  FROM (SELECT id, text FROM evals ORDER BY id LIMIT 1)),
             |ew AS (SELECT id, string_split_regex(
             |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w FROM evals),
             |eg AS (SELECT DISTINCT id, array_to_string(w[i:i+12], ' ') AS g
             |  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 12)) AS i
             |        FROM ew WHERE len(w) >= 13)),
             |tw AS (SELECT string_split_regex(
             |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w FROM train),
             |tg AS (SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS g
             |  FROM (SELECT w, unnest(generate_series(1, len(w) - 12)) AS i
             |        FROM tw WHERE len(w) >= 13)),
             |ngr AS (SELECT id, CAST(count(*) AS BIGINT) AS n_grams FROM eg GROUP BY 1),
             |hr AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dirty
             |  FROM eg JOIN tg USING (g) GROUP BY 1),
             |enw AS (SELECT id, regexp_extract_all(lower(text), '\w+') AS w FROM evals),
             |eng AS (SELECT DISTINCT id, array_to_string(w[i:i+12], ' ') AS g
             |  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 12)) AS i
             |        FROM enw WHERE len(w) >= 13)),
             |tnw AS (SELECT regexp_extract_all(lower(text), '\w+') AS w FROM train),
             |tng AS (SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS g
             |  FROM (SELECT w, unnest(generate_series(1, len(w) - 12)) AS i
             |        FROM tnw WHERE len(w) >= 13)),
             |ngn AS (SELECT id, CAST(count(*) AS BIGINT) AS n_grams FROM eng GROUP BY 1),
             |hn AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dirty
             |  FROM eng JOIN tng USING (g) GROUP BY 1)
             |SELECT v.id,
             |  coalesce(ngr.n_grams, 0) AS n_grams_raw,
             |  coalesce(hr.n_dirty, 0) AS n_dirty_raw,
             |  CASE WHEN coalesce(hr.n_dirty, 0) > 0 THEN 'dirty' ELSE 'clean' END
             |    AS verdict_raw,
             |  coalesce(ngn.n_grams, 0) AS n_grams_norm,
             |  coalesce(hn.n_dirty, 0) AS n_dirty_norm,
             |  CASE WHEN coalesce(hn.n_dirty, 0) > 0 THEN 'dirty' ELSE 'clean' END
             |    AS verdict_norm,
             |  CAST(CASE WHEN coalesce(hr.n_dirty, 0) = 0
             |    AND coalesce(hn.n_dirty, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
             |    AS evaded
             |FROM evals v LEFT JOIN ngr ON ngr.id = v.id
             |  LEFT JOIN hr ON hr.id = v.id
             |  LEFT JOIN ngn ON ngn.id = v.id
             |  LEFT JOIN hn ON hn.id = v.id""".stripMargin)),

    // CROSS-DOC QUOTE DETECTION (Curation.winnowingDupCandidates) — the
    // MOSS pairing over winnowing fingerprints: eight planted docs each
    // lift 150 verbatim chars from a training doc and append fresh
    // commentary — word-gram dedup sees mostly-new documents, but the
    // lifted run is ~5 windows of shared fingerprints, so every
    // (original, quoter) pair surfaces with n_shared ≥ 2. Fingerprints
    // with df > 20 drop before pairing (boilerplate ≠ copying, and the
    // cap bounds the fp-blocked self-join). Oracle replays fingerprints,
    // the df cap, and the pair join.
    Q("q264_winnowing_dup_candidates",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val quoters = d.filter(col("doc_id") < 8)
          .select((col("doc_id") + 96000L).as("doc_id"),
            concat(substring(col("text"), 1, 150),
              lit(" entirely new commentary words follow the lifted passage"))
              .as("text"))
        graft.operators.Curation.winnowingDupCandidates(
          d.unionByName(quoters), "doc_id", "text",
          k = 25, w = 8, minShared = 2, maxDf = 20)
      },
      Some(s"""WITH $quoterCorpusCte,
             |$winnowSelCtes,
             |rare AS (SELECT fp FROM csel GROUP BY fp HAVING count(*) <= 20),
             |capped AS (SELECT doc_id, fp FROM csel JOIN rare USING (fp))
             |SELECT a.doc_id AS idA, b.doc_id AS idB,
             |  CAST(count(*) AS BIGINT) AS n_shared
             |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    // CHAR-LEVEL WINNOWING CONTAMINATION (Curation.winnowingFingerprints
    // / charContaminationReport, r15 missing #5) — the rung UNDER the
    // token 13-gram filters: ten planted eval docs are 60 RAW CHARS
    // lifted verbatim from training docs (≈10 tokens — they carry ZERO
    // 13-grams, so both token bases are structurally blind), plus one
    // genuinely fresh doc long enough to carry 13-grams. Winnowing
    // (k=25-char grams, window w=8, unsigned min selection) guarantees
    // any shared run ≥ 32 chars shares a fingerprint, so the leaks
    // read dirty on the char probe while the fresh doc stays clean on
    // both — `sub_ngram_leak` is the defense's receipt. Broadcast
    // stays on the eval side (q222 discipline); the oracle replays the
    // fnv1a64 char-gram hashes (fnvFold), the ROWS-frame window min,
    // and the raw 13-gram probe.
    Q("q259_winnowing_contamination",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val leaks = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 97000L).as("doc_id"),
            substring(col("text"), 21, 60).as("text"))
        val fresh = Seq((97100L,
          "the purple quantum walrus audits a crystalline ledger of " +
            "unseen comets while seventeen translucent beacons hum " +
            "beneath the patient glacier tonight"))
          .toDF("doc_id", "text")
        val evalSet = leaks.unionByName(fresh)
        val char = Curation.charContaminationReport(
          d, evalSet, "doc_id", "text", k = 25, w = 8)
        val tok = Curation.evalContaminationReport(
            d, evalSet, "doc_id", "text", n = 13)
          .select(col("id"), col("n_grams").as("n13_grams"),
            col("n_dirty").as("n13_dirty"))
        char.join(tok, Seq("id"))
          .select(col("id"), col("n_fp"), col("n_dirty_fp"), col("verdict"),
            col("n13_grams"), col("n13_dirty"),
            when(col("n_dirty_fp") > 0 && col("n13_dirty") === 0, 1L)
              .otherwise(0L).as("sub_ngram_leak"))
      },
      Some(s"""WITH $leakProbeCte,
             |${winnowCtes("e", id = "id", src = "evals", sel = "esel", keep = "id, fp")},
             |${winnowFpCtes("t", id = "doc_id", src = "documents", sel = "tsel")},
             |fcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n_fp
             |  FROM esel GROUP BY 1),
             |fhit AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dirty_fp
             |  FROM esel JOIN tsel USING (fp) GROUP BY 1),
             |${wordGramCtes("e", src = "evals", key = Some("id"))},
             |${wordGramCtes("t", src = "documents", key = None)},
             |ngr AS (SELECT id, CAST(count(*) AS BIGINT) AS n13_grams
             |  FROM eg GROUP BY 1),
             |hr AS (SELECT id, CAST(count(*) AS BIGINT) AS n13_dirty
             |  FROM eg JOIN tg USING (g) GROUP BY 1)
             |SELECT v.id,
             |  coalesce(f.n_fp, 0) AS n_fp,
             |  coalesce(fh.n_dirty_fp, 0) AS n_dirty_fp,
             |  CASE WHEN coalesce(fh.n_dirty_fp, 0) > 0 THEN 'dirty'
             |    ELSE 'clean' END AS verdict,
             |  coalesce(ngr.n13_grams, 0) AS n13_grams,
             |  coalesce(hr.n13_dirty, 0) AS n13_dirty,
             |  CAST(CASE WHEN coalesce(fh.n_dirty_fp, 0) > 0
             |    AND coalesce(hr.n13_dirty, 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
             |    AS sub_ngram_leak
             |FROM evals v LEFT JOIN fcnt f ON f.id = v.id
             |  LEFT JOIN fhit fh ON fh.id = v.id
             |  LEFT JOIN ngr ON ngr.id = v.id
             |  LEFT JOIN hr ON hr.id = v.id""".stripMargin)),

    // EXACT LONGEST-LEAKED-SPAN (Curation.leakedSpans) — the forensic
    // layer over q259's boolean verdict: winnowing nominates candidate
    // (train, eval) pairs, then ALL positional 25-gram hashes are
    // matched and extended along diagonals (constant ti−ei offset) —
    // the longest run of consecutive matches r gives the EXACT longest
    // common substring r+24. The q259 fixture's ten 60-char lifts must
    // each read span_chars=60 against their source doc with
    // whole_doc_leak=1 (the lift IS the whole eval doc); the fresh doc
    // nominates no pair at all. Oracle replays fingerprint nomination,
    // the positional gram match, and the gaps-and-islands run fold —
    // 1-based vs 0-based positions cancel in both the diagonal and the
    // island key.
    Q("q266_leaked_spans",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val leaks = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 97000L).as("doc_id"),
            substring(col("text"), 21, 60).as("text"))
        val fresh = Seq((97100L,
          "the purple quantum walrus audits a crystalline ledger of " +
            "unseen comets while seventeen translucent beacons hum " +
            "beneath the patient glacier tonight"))
          .toDF("doc_id", "text")
        val evalSet = leaks.unionByName(fresh)
        val spans = Curation.leakedSpans(
          d, evalSet, "doc_id", "text", k = 25, w = 8)
        val elen = evalSet.select(col("doc_id").as("eval_id"),
          length(col("text")).as("_elen"))
        spans.join(broadcast(elen), Seq("eval_id"))
          .select(col("eval_id"), col("train_id"), col("span_chars"),
            col("n_runs"),
            when(col("span_chars") >= col("_elen"), 1L).otherwise(0L)
              .as("whole_doc_leak"))
      },
      Some(s"""WITH $leakProbeCte,
             |${winnowCtes("e", id = "id", src = "evals", sel = "esel", keep = "id, fp")},
             |${winnowCtes("t", id = "doc_id", src = "documents", sel = "tsel", keep = "doc_id, fp")},
             |cpairs AS (SELECT DISTINCT ts.doc_id AS train_id, es.id AS eval_id
             |  FROM tsel ts JOIN esel es ON ts.fp = es.fp),
             |mm AS (SELECT cp.train_id, cp.eval_id,
             |    tg.i - eg.i AS d, eg.i AS ei
             |  FROM cpairs cp
             |  JOIN tgr tg ON tg.doc_id = cp.train_id
             |  JOIN egr eg ON eg.id = cp.eval_id AND eg.h = tg.h),
             |runs AS (SELECT train_id, eval_id, count(*) AS run
             |  FROM (SELECT train_id, eval_id, d,
             |      ei - ROW_NUMBER() OVER (PARTITION BY train_id, eval_id, d
             |        ORDER BY ei) AS grp
             |    FROM mm)
             |  GROUP BY train_id, eval_id, d, grp),
             |spans AS (SELECT train_id, eval_id,
             |    CAST(max(run) + 24 AS BIGINT) AS span_chars,
             |    CAST(count(*) AS BIGINT) AS n_runs
             |  FROM runs GROUP BY 1, 2)
             |SELECT sp.eval_id, sp.train_id, sp.span_chars, sp.n_runs,
             |  CAST(CASE WHEN sp.span_chars >= length(v.text)
             |    THEN 1 ELSE 0 END AS BIGINT) AS whole_doc_leak
             |FROM spans sp JOIN evals v ON v.id = sp.eval_id""".stripMargin)),

    // INCREMENTAL WINNOWING CONTAMINATION INDEX — the q242/q254/q255
    // index-CRUD discipline on the char-contamination tier, closing the
    // fourth index family (BM25, chunk, ANN, winnowing): the (id, fp)
    // postings are per-row functions of each doc's own text, so upsert
    // is a union and delete an anti-join (plus one never-indexed id —
    // delete must be idempotent). The full cycle runs here: index the
    // epoch (ids %4≠0), fold a re-keyed batch (+50000), delete every
    // epoch id ≡1 mod 5, then PROBE the q259 eval fixture against the
    // maintained index. The oracle recomputes the probe from scratch
    // over exactly the surviving corpus — hash equality proves
    // remove ∘ upsert == recompute. Note the fixture's own teeth: leaks
    // sourced from deleted or batch-moved docs flip verdicts unless
    // natural corpus duplicates still carry the text.
    Q("q269_incremental_winnowing_index",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val epoch = d.filter(col("doc_id") % 4 =!= 0)
        val batch = d.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 50000L).as("doc_id"), col("text"))
        val deleted = epoch.filter(col("doc_id") % 5 === 1)
          .select(col("doc_id"))
          .unionByName(Seq(999999L).toDF("doc_id")) // never indexed
        val idx = Curation.removeFromWinnowingIndex(
          Curation.upsertWinnowingIndex(
            Curation.winnowingFingerprints(epoch, "doc_id", "text", 25, 8),
            batch, "doc_id", "text", 25, 8),
          deleted, "doc_id")
        val leaks = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 97000L).as("doc_id"),
            substring(col("text"), 21, 60).as("text"))
        val fresh = Seq((97100L,
          "the purple quantum walrus audits a crystalline ledger of " +
            "unseen comets while seventeen translucent beacons hum " +
            "beneath the patient glacier tonight"))
          .toDF("doc_id", "text")
        Curation.charContaminationProbe(idx,
          leaks.unionByName(fresh), "doc_id", "text", k = 25, w = 8)
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE doc_id % 4 <> 0 AND doc_id % 5 <> 1
             |  UNION ALL
             |  SELECT doc_id + 50000, text FROM documents WHERE doc_id % 4 = 0),
             |$leakProbeCte,
             |${winnowCtes("e", id = "id", src = "evals", sel = "esel", keep = "id, fp")},
             |${winnowFpCtes("t", id = "doc_id", src = "corpus", sel = "tsel")},
             |fcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n_fp
             |  FROM esel GROUP BY 1),
             |fhit AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dirty_fp
             |  FROM esel JOIN tsel USING (fp) GROUP BY 1)
             |SELECT v.id,
             |  coalesce(f.n_fp, 0) AS n_fp,
             |  coalesce(fh.n_dirty_fp, 0) AS n_dirty_fp,
             |  CASE WHEN coalesce(fh.n_dirty_fp, 0) > 0 THEN 'dirty'
             |    ELSE 'clean' END AS verdict
             |FROM evals v LEFT JOIN fcnt f ON f.id = v.id
             |  LEFT JOIN fhit fh ON fh.id = v.id""".stripMargin)),

    // STREAMING CONTAMINATION-AT-INGEST (Curation
    // .ingestContaminationVerdicts under Structured Streaming) — the
    // reverse probe direction: incoming TRAINING docs stream in and
    // each is asked "do you contain benchmark text?" so leaks are
    // quarantined before they train. Stream-safe by construction:
    // stateless per-row fingerprints, broadcast stream-static join
    // against the (tiny, pre-distincted) eval fingerprint set, ONE
    // stateful per-doc count agg in Complete mode. The q259 fixture's
    // source docs (0–9) and their natural corpus duplicates must read
    // dirty; the oracle recomputes the same per-train-doc verdicts in
    // batch SQL — streaming == batch, hash-equal.
    Q("q270_streaming_ingest_contamination",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val leaks = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 97000L).as("doc_id"),
            substring(col("text"), 21, 60).as("text"))
        val fresh = Seq((97100L,
          "the purple quantum walrus audits a crystalline ledger of " +
            "unseen comets while seventeen translucent beacons hum " +
            "beneath the patient glacier tonight"))
          .toDF("doc_id", "text")
        val evalFps = Curation.winnowingFingerprints(
          leaks.unionByName(fresh), "doc_id", "text", 25, 8)
          .select(col("fp")).distinct()
        val inDir = s"/tmp/graft-ingestcontam-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(d, "doc_id", s"$dir/documents_ingestcontam")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          d.write.mode("overwrite").parquet(inDir)
        graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => Curation.ingestContaminationVerdicts(
            stream, evalFps, "doc_id", "text", 25, 8),
          org.apache.spark.sql.streaming.OutputMode.Complete,
          s"q270_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
      },
      Some(s"""WITH $leakProbeCte,
             |${winnowCtes("e", id = "id", src = "evals", sel = "esel", keep = "fp")},
             |${winnowCtes("t", id = "doc_id", src = "documents", sel = "tselD", keep = "doc_id, fp")}
             |SELECT t.doc_id AS id, CAST(count(*) AS BIGINT) AS n_fp,
             |  CAST(sum(CASE WHEN e.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dirty,
             |  CASE WHEN sum(CASE WHEN e.fp IS NOT NULL THEN 1 ELSE 0 END) > 0
             |    THEN 'dirty' ELSE 'clean' END AS verdict
             |FROM tselD t LEFT JOIN esel e ON e.fp = t.fp
             |GROUP BY t.doc_id""".stripMargin)),

    // CONTAMINATION-AWARE MIXTURE RE-PLAN — q244's discipline with
    // contamination as the removal cause: the naive temperature plan
    // apportions the epoch budget from raw per-source token counts,
    // but decontamination (q270's per-train-doc verdicts) EXCISES the
    // docs carrying benchmark text before training, so sources holding
    // leaks get quota for tokens that will never train. Compose the
    // two: winnowing verdicts → excised corpus → per-source stats →
    // samplingPlanFromStats, with the naive plan side by side and
    // n_excised as the receipt. Oracle replays the fingerprint
    // verdicts and BOTH integer temperature/Hamilton chains.
    Q("q271_contamination_aware_replan",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val leaks = d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 97000L).as("doc_id"),
            substring(col("text"), 21, 60).as("text"))
        val fresh = Seq((97100L,
          "the purple quantum walrus audits a crystalline ledger of " +
            "unseen comets while seventeen translucent beacons hum " +
            "beneath the patient glacier tonight"))
          .toDF("doc_id", "text")
        val evalFps = Curation.winnowingFingerprints(
          leaks.unionByName(fresh), "doc_id", "text", 25, 8)
          .select(col("fp")).distinct()
        val dirtyIds = Curation.ingestContaminationVerdicts(
            d, evalFps, "doc_id", "text", 25, 8)
          .filter(col("verdict") === "dirty")
          .select(col("id").as("doc_id"))
        val naive = Curation.samplingPlan(
            d, "source", "text", budget = 1000000L)
          .select(col("source"), col("n_tokens").as("toks_before"),
            col("quota").as("quota_naive"))
        val clean = d.join(dirtyIds, Seq("doc_id"), "left_anti")
        val stats = clean.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(graft.functions.TextFunctions.tokens(col("text")))
              .cast("long")).as("n_tokens"))
        val replan = Curation.samplingPlanFromStats(
            stats, "source", budget = 1000000L)
          .select(col("source"), col("n_tokens").as("toks_after"),
            col("quota").as("quota_replanned"))
        val excised = d.join(dirtyIds, Seq("doc_id"), "left_semi")
          .groupBy(col("source")).agg(count(lit(1)).as("n_excised"))
        naive.join(replan, Seq("source"))
          .join(excised, Seq("source"), "left")
          .select(col("source"), col("toks_before"), col("toks_after"),
            col("quota_naive"), col("quota_replanned"),
            (col("quota_replanned") - col("quota_naive")).as("quota_shift"),
            coalesce(col("n_excised"), lit(0L)).as("n_excised"))
      },
      Some(s"""WITH $leakProbeCte,
             |${winnowCtes("e", id = "id", src = "evals", sel = "esel", keep = "fp")},
             |${winnowCtes("t", id = "doc_id", src = "documents", sel = "tselD", keep = "doc_id, fp")},
             |dirty AS (SELECT DISTINCT t.doc_id
             |  FROM tselD t JOIN esel e ON e.fp = t.fp),
             |tkc AS (SELECT doc_id, source,
             |    CAST(len(string_split_regex(
             |      regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+'))
             |      AS BIGINT) AS tk
             |  FROM documents),
             |ns AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens
             |  FROM tkc GROUP BY source),
             |${OracleFragments.temperatureQuotaCtes("n")},
             |ps AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens
             |  FROM tkc WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
             |  GROUP BY source),
             |${OracleFragments.temperatureQuotaCtes("p")},
             |exc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_excised
             |  FROM tkc WHERE doc_id IN (SELECT doc_id FROM dirty)
             |  GROUP BY source)
             |SELECT n.source, n.n_tokens AS toks_before,
             |  p.n_tokens AS toks_after,
             |  n.quota AS quota_naive, p.quota AS quota_replanned,
             |  p.quota - n.quota AS quota_shift,
             |  coalesce(e.n_excised, 0) AS n_excised
             |FROM nq n JOIN pq p ON p.source = n.source
             |LEFT JOIN exc e ON e.source = n.source""".stripMargin)),

    // DECONTAMINATION-LADDER ROLLUP — the one artifact that justifies
    // running THREE contamination rungs: per rung (raw 13-gram,
    // normalized 13-gram, char-level winnowing), how many TRAIN docs
    // are flagged and their token mass. The fixture plants one eval
    // doc per evasion class: a verbatim 200-char lift (all rungs catch
    // its sources), a case/punct-reformatted lift (raw misses — q240's
    // lesson; normalized catches; the char stream is mangled so
    // winnowing misses too), and a 60-char sub-n-gram lift (both token
    // rungs structurally blind; winnowing catches) — the rungs are
    // COMPLEMENTARY, not nested, which is why a pipeline runs all
    // three. Oracle replays all three probes train-side.
    Q("q285_decontamination_ladder",
      (spark, dir) => {
        import spark.implicits._
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val e1 = d.filter(col("doc_id") === 0)
          .select(lit(95001L).as("doc_id"),
            substring(col("text"), 31, 200).as("text"))
        val e2 = d.filter(col("doc_id") === 1)
          .select(lit(95002L).as("doc_id"),
            regexp_replace(upper(substring(col("text"), 31, 200)),
              " ", " , ").as("text"))
        val e3 = d.filter(col("doc_id") === 2)
          .select(lit(95003L).as("doc_id"),
            substring(col("text"), 31, 60).as("text"))
        val e4 = Seq((95004L,
          "a wholly original probe sentence that mentions seventeen " +
            "imaginary lighthouses humming beneath twelve patient " +
            "glaciers while nobody anywhere copies anything tonight"))
          .toDF("doc_id", "text")
        val evalSet = e1.unionByName(e2).unionByName(e3).unionByName(e4)
        val toks = d.select(col("doc_id"),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("tk"))
        def rollup(ids: org.apache.spark.sql.DataFrame, rung: String) =
          ids.join(toks, Seq("doc_id"))
            .agg(count(lit(1)).as("n_dirty_docs"),
              coalesce(sum(col("tk")), lit(0L)).as("dirty_tokens"))
            .select(lit(rung).as("rung"), col("n_dirty_docs"),
              col("dirty_tokens"))
        val raw = Curation.ngramContamination(
            d, evalSet, "doc_id", "text", n = 13)
          .select(col("id").as("doc_id"))
        val norm = Curation.ngramContamination(
            d, evalSet, "doc_id", "text", n = 13, normalized = true)
          .select(col("id").as("doc_id"))
        val evalFps = Curation.winnowingFingerprints(
          evalSet, "doc_id", "text", 25, 8).select(col("fp")).distinct()
        val char = Curation.ingestContaminationVerdicts(
            d, evalFps, "doc_id", "text", 25, 8)
          .filter(col("verdict") === "dirty")
          .select(col("id").as("doc_id"))
        rollup(raw, "raw13")
          .unionByName(rollup(norm, "norm13"))
          .unionByName(rollup(char, "char_winnow"))
      },
      Some(s"""WITH evals AS (
             |  SELECT 95001 AS id, substr(text, 31, 200) AS text
             |  FROM documents WHERE doc_id = 0
             |  UNION ALL
             |  SELECT 95002, regexp_replace(upper(substr(text, 31, 200)), ' ', ' , ', 'g')
             |  FROM documents WHERE doc_id = 1
             |  UNION ALL
             |  SELECT 95003, substr(text, 31, 60) FROM documents WHERE doc_id = 2
             |  UNION ALL
             |  SELECT 95004, 'a wholly original probe sentence that mentions seventeen imaginary lighthouses humming beneath twelve patient glaciers while nobody anywhere copies anything tonight'),
             |tkc AS (SELECT doc_id, CAST(len(string_split_regex(
             |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+'))
             |    AS BIGINT) AS tk FROM documents),
             |${wordGramCtes("e", src = "evals", key = None)},
             |${wordGramCtes("t", src = "documents", key = Some("doc_id"))},
             |rawids AS (SELECT DISTINCT t.doc_id FROM tg t JOIN eg e ON e.g = t.g),
             |enw AS (SELECT regexp_extract_all(lower(text), '\\w+') AS w FROM evals),
             |eng AS (SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS g
             |  FROM (SELECT w, unnest(generate_series(1, len(w) - 12)) AS i
             |        FROM enw WHERE len(w) >= 13)),
             |tnw AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS w
             |  FROM documents),
             |tng AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS g
             |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 12)) AS i
             |        FROM tnw WHERE len(w) >= 13)),
             |normids AS (SELECT DISTINCT t.doc_id FROM tng t JOIN eng e ON e.g = t.g),
             |${winnowCtes("e", id = "id", src = "evals", sel = "esel", keep = "fp")},
             |${winnowCtes("t", id = "doc_id", src = "documents", sel = "tselD", keep = "doc_id, fp")},
             |charids AS (SELECT DISTINCT t.doc_id
             |  FROM tselD t JOIN esel e ON e.fp = t.fp)
             |SELECT 'raw13' AS rung,
             |  CAST(count(*) AS BIGINT) AS n_dirty_docs,
             |  CAST(coalesce(sum(tk), 0) AS BIGINT) AS dirty_tokens
             |FROM rawids JOIN tkc USING (doc_id)
             |UNION ALL
             |SELECT 'norm13', CAST(count(*) AS BIGINT),
             |  CAST(coalesce(sum(tk), 0) AS BIGINT)
             |FROM normids JOIN tkc USING (doc_id)
             |UNION ALL
             |SELECT 'char_winnow', CAST(count(*) AS BIGINT),
             |  CAST(coalesce(sum(tk), 0) AS BIGINT)
             |FROM charids JOIN tkc USING (doc_id)""".stripMargin)),

    // DUP-CANDIDATE SPAN VERIFICATION (Curation.dupCandidateSpans) —
    // the MOSS pipeline's verification stage over q264's candidates:
    // fingerprint-overlap counts rank pairs, but "lifted paragraph vs
    // scattered boilerplate" needs the actual extent, so every
    // candidate pair gets its EXACT longest common substring and
    // maximal-run count via the q266 diagonal extension. The planted
    // quoters (150-char prefix lifts + fresh commentary) must read
    // span_chars=150 against their sources; natural whole-doc dups
    // read spans the length of the shared text. Oracle = the q264
    // candidate chain + the positional gram match and islands fold.
    Q("q272_dup_candidate_spans",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val quoters = d.filter(col("doc_id") < 8)
          .select((col("doc_id") + 96000L).as("doc_id"),
            concat(substring(col("text"), 1, 150),
              lit(" entirely new commentary words follow the lifted passage"))
              .as("text"))
        Curation.dupCandidateSpans(
          d.unionByName(quoters), "doc_id", "text",
          k = 25, w = 8, minShared = 2, maxDf = 20)
      },
      Some(s"""WITH $quoterCorpusCte,
             |$winnowSelCtes,
             |rare AS (SELECT fp FROM csel GROUP BY fp HAVING count(*) <= 20),
             |capped AS (SELECT doc_id, fp FROM csel JOIN rare USING (fp)),
             |cand AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
             |    CAST(count(*) AS BIGINT) AS n_shared
             |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |mm AS (SELECT cd.idA, cd.idB, ga.i - gb.i AS d, gb.i AS ei
             |  FROM cand cd
             |  JOIN cgr ga ON ga.doc_id = cd.idA
             |  JOIN cgr gb ON gb.doc_id = cd.idB AND gb.h = ga.h),
             |runs AS (SELECT idA, idB, count(*) AS run FROM (
             |    SELECT idA, idB, d,
             |      ei - ROW_NUMBER() OVER (PARTITION BY idA, idB, d
             |        ORDER BY ei) AS grp
             |    FROM mm)
             |  GROUP BY idA, idB, d, grp)
             |SELECT r.idA, r.idB, cd.n_shared,
             |  CAST(max(r.run) + 24 AS BIGINT) AS span_chars,
             |  CAST(count(*) AS BIGINT) AS n_runs
             |FROM runs r JOIN cand cd USING (idA, idB)
             |GROUP BY r.idA, r.idB, cd.n_shared""".stripMargin)),

    // BOILERPLATE FINGERPRINT MINER (Curation.boilerplateFingerprints)
    // — the strip-list a template-removal pass consumes: fps with df ≥
    // 25 are SHARED text, exactly what the dup pairing df-caps away as
    // non-evidence. Fixture plants a 79-char license header on docs
    // 0–39 (spanning all 20 sources): its fingerprints must surface
    // with df ≈ 40 and n_sources = 20 while ordinary text stays under
    // the bar. One winnowing pass + one fp agg; no pairing.
    Q("q283_boilerplate_fps",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val header = "licensed under the corpus commons attribution " +
          "agreement version four point two "
        val planted = d.select(col("doc_id"), col("source"),
          when(col("doc_id") < 40, concat(lit(header), col("text")))
            .otherwise(col("text")).as("text"))
        Curation.boilerplateFingerprints(planted, "doc_id", "text",
          "source", k = 25, w = 8, minDf = 25L)
      },
      Some(s"""WITH ${headerCorpusCte("corpus")},
             |$winnowSelCtes
             |SELECT CAST(CASE WHEN s.fp >= 9223372036854775808
             |    THEN s.fp - 18446744073709551616 ELSE s.fp END AS BIGINT)
             |    AS fp,
             |  CAST(count(*) AS BIGINT) AS df,
             |  CAST(count(DISTINCT c.source) AS BIGINT) AS n_sources
             |FROM csel s JOIN corpus c ON c.doc_id = s.doc_id
             |GROUP BY s.fp HAVING count(*) >= 25""".stripMargin)),

    // PER-SOURCE BOILERPLATE BURDEN — q283's mined strip-list joined
    // back to the corpus: per source, how many docs carry at least one
    // boilerplate fingerprint and the integer micro-share — the number
    // that decides WHICH sources get the template-stripping pass. The
    // planted header sits on docs 0–39, i.e. exactly 2 of every
    // source's docs at sf0.01 (share 80000 micro). Mined fps broadcast
    // (tiny by construction); one fp semi-join + one source agg.
    Q("q286_boilerplate_burden",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val header = "licensed under the corpus commons attribution " +
          "agreement version four point two "
        val planted = d.select(col("doc_id"), col("source"),
          when(col("doc_id") < 40, concat(lit(header), col("text")))
            .otherwise(col("text")).as("text"))
        val mined = Curation.boilerplateFingerprints(planted, "doc_id",
          "text", "source", k = 25, w = 8, minDf = 25L).select(col("fp"))
        val carriers = Curation.winnowingFingerprints(
            planted, "doc_id", "text", 25, 8)
          .join(broadcast(mined), Seq("fp"))
          .select(col("id")).distinct()
          .withColumn("_hit", lit(1L))
        planted.select(col("doc_id").as("id"), col("source"))
          .join(carriers, Seq("id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("_hit"), lit(0L))).as("n_carriers"))
          .select(col("source"), col("n_docs"), col("n_carriers"),
            expr("n_carriers * 1000000 DIV n_docs").as("burden_micro"))
      },
      Some(s"""WITH ${headerCorpusCte("corpus")},
             |$winnowSelCtes,
             |mined AS (SELECT fp FROM csel GROUP BY fp HAVING count(*) >= 25),
             |carriers AS (SELECT DISTINCT doc_id
             |  FROM csel JOIN mined USING (fp))
             |SELECT c.source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN ca.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_carriers,
             |  CAST((sum(CASE WHEN ca.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    * 1000000) // count(*) AS BIGINT) AS burden_micro
             |FROM corpus c LEFT JOIN carriers ca ON ca.doc_id = c.doc_id
             |GROUP BY c.source""".stripMargin)),

    // TEMPLATE-STRIP PASS (Curation.stripBoilerplate) — the pass that
    // q283 mines the list for and q286 routes sources to: every
    // winnowing-SELECTED position whose fingerprint is on the mined
    // strip-list becomes a 25-char span; spans merge per doc and the
    // text is cut (q175's island machinery). The planted 79-char
    // header on docs 0–39 must be cut CONTIGUOUSLY (winnowing selects
    // a gram at least every w=8 grams inside a shared region and k=25
    // > 8, so consecutive spans overlap), while docs 40+ pass through
    // byte-identical. The oracle replays POSITIONAL winnowing as one
    // window frame over the combined key h·2^20 + i (unsigned HUGEINT
    // min == the kernel's unsigned-compare + leftmost tie rule), the
    // mined-list df bar, the island merge, and the substring cut —
    // and compares the CLEANED TEXT itself.
    Q("q287_boilerplate_strip",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val header = "licensed under the corpus commons attribution " +
          "agreement version four point two "
        val planted = d.select(col("doc_id"), col("source"),
          when(col("doc_id") < 40, concat(lit(header), col("text")))
            .otherwise(col("text")).as("text"))
        val mined = Curation.boilerplateFingerprints(planted, "doc_id",
          "text", "source", k = 25, w = 8, minDf = 25L).select(col("fp"))
        Curation.stripBoilerplate(planted, mined, "doc_id", "text",
          k = 25, w = 8)
      },
      Some(boilerplateStripOracle)),

    // SEMANTIC CONTAMINATION RUNG (Curation.semanticContamination) —
    // the embedding-space member of the q285 ladder: a train vector is
    // flagged when its cosine to ANY eval probe reaches τ = 0.9. The
    // probes plant one per evasion class: a verbatim copy of vec 0
    // (every rung would catch this), vec 1 SCALED ×2 (cosine is
    // scale-invariant — flagged at sim 1.0; an exact-hash rung would
    // miss it), a NEAR-dup of vec 2 (v2 + 0.2·v3 — the paraphrase
    // stand-in no token/char rung can see), and a clean 50/50 mix of
    // vecs 4/5 (cos ≈ 1/√2 on near-orthogonal vectors — must NOT
    // flag). All probe arithmetic is double end-to-end (the q231
    // idiom) so both engines build bit-identical probes; sims compare
    // on the raw double (identical sequential fold), rounded once for
    // output. Eval side broadcast — one corpus scan, no shuffle.
    Q("q288_semantic_contamination",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"),
            expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
        def vOf(id: Long) = e.filter(col("vec_id") === id)
        val e1 = vOf(0).select(lit(9001L).as("eid"), col("v"))
        val e2 = vOf(1).select(lit(9002L).as("eid"),
          transform(col("v"), x => x * lit(2.0)).as("v"))
        val e3 = vOf(2).select(col("v").as("a"))
          .crossJoin(vOf(3).select(col("v").as("b")))
          .select(lit(9003L).as("eid"),
            zip_with(col("a"), col("b"), (x, y) => x + y * lit(0.2)).as("v"))
        val e4 = vOf(4).select(col("v").as("a"))
          .crossJoin(vOf(5).select(col("v").as("b")))
          .select(lit(9004L).as("eid"),
            zip_with(col("a"), col("b"), (x, y) => (x + y) * lit(0.5)).as("v"))
        val probes = e1.unionByName(e2).unionByName(e3).unionByName(e4)
        Curation.semanticContamination(
          e.select(col("vec_id").as("id"), col("v")), probes, tau = 0.9)
      },
      Some(semanticContaminationOracle)),

    // STREAMING TEMPLATE-STRIP AT INGEST (Curation
    // .stripBoilerplateAtIngest) — the streaming member of the
    // boilerplate family (mine q283 → route q286 → cut q287 → here):
    // the mined strip-list is an epoch-STATIC artifact, tiny by
    // construction, so it rides in the UDF closure and every incoming
    // doc strips itself in one fused stateless kernel (positional
    // selection → mined filter → island merge → cut, island semantics
    // identical to the batch cutSpans) — ZERO stateful operators,
    // Append mode, no watermark. Same planted fixture as q287; the
    // oracle IS q287's chain — streaming == batch, hash-equal.
    Q("q291_streaming_boilerplate_strip",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val header = "licensed under the corpus commons attribution " +
          "agreement version four point two "
        val planted = d.select(col("doc_id"), col("source"),
          when(col("doc_id") < 40, concat(lit(header), col("text")))
            .otherwise(col("text")).as("text"))
        val mined = Curation.boilerplateFingerprints(planted, "doc_id",
            "text", "source", k = 25, w = 8, minDf = 25L)
          .select(col("fp")).collect().map(_.getLong(0))
        val inDir = s"/tmp/graft-stripingest-" +
          s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(planted, "doc_id", s"$dir/documents_stripingest")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          planted.write.mode("overwrite").parquet(inDir)
        graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => Curation.stripBoilerplateAtIngest(
            stream, mined, "doc_id", "text", 25, 8),
          org.apache.spark.sql.streaming.OutputMode.Append,
          s"q291_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
      },
      Some(boilerplateStripOracle)),

    // STRIP-AWARE MIXTURE RE-PLAN — the q271 discipline with
    // template-stripping as the token-mass remover: the naive
    // temperature plan apportions the epoch budget from raw per-source
    // token counts, but the strip pass (q287) cuts boilerplate BEFORE
    // training, so sources heavy in templates get quota for tokens
    // that never train. Compose mine → strip → recount → replan, with
    // the naive plan side by side and (n_stripped, chars_removed) as
    // the receipt. Oracle replays the q287 positional strip chain, the
    // post-strip token counts, and BOTH integer temperature/Hamilton
    // chains.
    Q("q292_strip_aware_replan",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val header = "licensed under the corpus commons attribution " +
          "agreement version four point two "
        val planted = d.select(col("doc_id"), col("source"),
          when(col("doc_id") < 40, concat(lit(header), col("text")))
            .otherwise(col("text")).as("text"))
        val naive = Curation.samplingPlan(
            planted, "source", "text", budget = 1000000L)
          .select(col("source"), col("n_tokens").as("toks_before"),
            col("quota").as("quota_naive"))
        val mined = Curation.boilerplateFingerprints(planted, "doc_id",
          "text", "source", k = 25, w = 8, minDf = 25L).select(col("fp"))
        val withSrc = Curation.stripBoilerplate(planted, mined,
            "doc_id", "text", 25, 8)
          .join(planted.select(col("doc_id").as("id"), col("source")),
            Seq("id"))
        val stats = withSrc.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(graft.functions.TextFunctions.tokens(col("clean_text")))
              .cast("long")).as("n_tokens"))
        val replan = Curation.samplingPlanFromStats(
            stats, "source", budget = 1000000L)
          .select(col("source"), col("n_tokens").as("toks_after"),
            col("quota").as("quota_replanned"))
        val receipt = withSrc.groupBy(col("source"))
          .agg(sum(when(col("n_spans") > 0, 1L).otherwise(0L))
              .as("n_stripped"),
            sum(col("removed_chars")).as("chars_removed"))
        naive.join(replan, Seq("source")).join(receipt, Seq("source"))
          .select(col("source"), col("toks_before"), col("toks_after"),
            col("quota_naive"), col("quota_replanned"),
            (col("quota_replanned") - col("quota_naive")).as("quota_shift"),
            col("n_stripped"), col("chars_removed"))
      },
      Some(s"""WITH ${headerCorpusCte("corpus")},
             |${boilerplateStripCtes("corpus", "stst")},
             |ntk AS (SELECT doc_id, source, CAST(len(string_split_regex(
             |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+'))
             |    AS BIGINT) AS tk FROM corpus),
             |ctk AS (SELECT c.doc_id, c.source, CAST(len(string_split_regex(
             |    regexp_replace(coalesce(cl.ct, c.text), '^\\s+|\\s+$$', '', 'g'),
             |    '\\s+')) AS BIGINT) AS tk
             |  FROM corpus c LEFT JOIN cleaned cl ON cl.doc_id = c.doc_id),
             |ns AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens
             |  FROM ntk GROUP BY source),
             |${OracleFragments.temperatureQuotaCtes("n")},
             |ps AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens
             |  FROM ctk GROUP BY source),
             |${OracleFragments.temperatureQuotaCtes("p")},
             |rc AS (SELECT c.source,
             |    CAST(sum(CASE WHEN st.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_stripped,
             |    CAST(coalesce(sum(st.removed), 0) AS BIGINT) AS chars_removed
             |  FROM corpus c LEFT JOIN stst st ON st.doc_id = c.doc_id
             |  GROUP BY c.source)
             |SELECT n.source, n.n_tokens AS toks_before,
             |  p.n_tokens AS toks_after,
             |  n.quota AS quota_naive, p.quota AS quota_replanned,
             |  p.quota - n.quota AS quota_shift,
             |  rc.n_stripped, rc.chars_removed
             |FROM nq n JOIN pq p ON p.source = n.source
             |JOIN rc ON rc.source = n.source""".stripMargin)),

    // BANDED SEMANTIC CONTAMINATION (Curation
    // .semanticContaminationBanded) — q288's SCALE PATH audited
    // against it: when the probe set outgrows the broadcast
    // nested-loop, both sides band on the SRP signature and only
    // band-bucket collisions are cosine-verified — a flag is never
    // approximate, only a miss can be. The gate runs the exact form
    // and the banded form over the SAME probes and reports, per
    // exactly-flagged train vector, whether the banded path also
    // caught it (banded ⊆ exact by construction; the audit column is
    // where the LSH trade becomes visible). Oracle replays probe
    // construction, both cosine chains, and the signature/band
    // arithmetic with the same Rademacher literals as the kernel.
    Q("q293_banded_semantic_contamination",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"),
            expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
        def vOf(id: Long) = e.filter(col("vec_id") === id)
        val e1 = vOf(0).select(lit(9001L).as("eid"), col("v"))
        val e2 = vOf(1).select(lit(9002L).as("eid"),
          transform(col("v"), x => x * lit(2.0)).as("v"))
        val e3 = vOf(2).select(col("v").as("a"))
          .crossJoin(vOf(3).select(col("v").as("b")))
          .select(lit(9003L).as("eid"),
            zip_with(col("a"), col("b"), (x, y) => x + y * lit(0.2)).as("v"))
        val e4 = vOf(4).select(col("v").as("a"))
          .crossJoin(vOf(5).select(col("v").as("b")))
          .select(lit(9004L).as("eid"),
            zip_with(col("a"), col("b"), (x, y) => (x + y) * lit(0.5)).as("v"))
        val probes = e1.unionByName(e2).unionByName(e3).unionByName(e4)
        val train = e.select(col("vec_id").as("id"), col("v"))
        val exact = Curation.semanticContamination(train, probes, tau = 0.9)
        val banded = Curation.semanticContaminationBanded(
            train, probes, tau = 0.9, planes = 16, bandBits = 4,
            seed = 42L)
          .select(col("id"), lit(1L).as("_bh"))
        exact.join(banded, Seq("id"), "left")
          .select(col("id"), col("n_probes_hit"), col("max_sim"),
            coalesce(col("_bh"), lit(0L)).as("banded_hit"))
      },
      Some(s"""WITH signs AS (
             |  SELECT plane, CAST(sv AS DOUBLE[]) AS sv
             |  FROM (VALUES ${SimilarityQueries.srpSignRows(16, 64, 42L)})
             |    s(plane, sv)),
             |$semanticSimsCtes,
             |taccs AS (SELECT id, plane, list_dot_product(v, sv) AS acc
             |  FROM tn CROSS JOIN signs),
             |tsigs AS (SELECT id,
             |    sum(CASE WHEN acc >= 0 THEN (CAST(1 AS BIGINT) << plane)
             |      ELSE 0 END) AS sig
             |  FROM taccs GROUP BY id),
             |tband AS (SELECT id, band, (sig >> (band * 4)) & 15 AS bucket
             |  FROM tsigs CROSS JOIN (VALUES (0),(1),(2),(3)) b(band)),
             |eaccs AS (SELECT eid, plane, list_dot_product(v, sv) AS acc
             |  FROM en CROSS JOIN signs),
             |esigs AS (SELECT eid,
             |    sum(CASE WHEN acc >= 0 THEN (CAST(1 AS BIGINT) << plane)
             |      ELSE 0 END) AS sig
             |  FROM eaccs GROUP BY eid),
             |eband AS (SELECT eid, band, (sig >> (band * 4)) & 15 AS bucket
             |  FROM esigs CROSS JOIN (VALUES (0),(1),(2),(3)) b(band)),
             |cand AS (SELECT DISTINCT t.id, e.eid
             |  FROM tband t JOIN eband e USING (band, bucket)),
             |bsims AS (SELECT c.id, c.eid,
             |    list_dot_product(t.v, e.v) / (t.vn * e.en) AS sim
             |  FROM cand c JOIN tn t ON t.id = c.id JOIN en e ON e.eid = c.eid),
             |bflag AS (SELECT DISTINCT id FROM bsims WHERE sim >= 0.9)
             |SELECT s.id, CAST(count(*) AS BIGINT) AS n_probes_hit,
             |  round(max(s.sim), 6) AS max_sim,
             |  CAST(max(CASE WHEN bf.id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS banded_hit
             |FROM sims s LEFT JOIN bflag bf ON bf.id = s.id
             |WHERE s.sim >= 0.9 GROUP BY s.id""".stripMargin)),

    // SEMANTIC LADDER RUNG (token-mass shape) — the q285 rollup row
    // for the FOURTH rung: probes that exist only in EMBEDDING space
    // (a scaled copy of vec 5, a 0.2-mix near-dup of vec 6) flag their
    // train docs and the rung reports (n_dirty_docs, dirty_tokens) in
    // exactly q285's schema — unionable with the three text rungs into
    // the full four-rung ladder. The text rungs are blind to these
    // probes BY CONSTRUCTION (no text was lifted; vec_id == doc_id is
    // the q231 correspondence), which is the whole reason the ladder
    // needs an embedding member: paraphrase leaks reword the text but
    // embed next to their source.
    Q("q294_semantic_ladder_rung",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"),
            expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
        def vOf(id: Long) = e.filter(col("vec_id") === id)
        val probes = vOf(5).select(lit(9101L).as("eid"),
            transform(col("v"), x => x * lit(1.5)).as("v"))
          .unionByName(vOf(6).select(col("v").as("a"))
            .crossJoin(vOf(7).select(col("v").as("b")))
            .select(lit(9102L).as("eid"),
              zip_with(col("a"), col("b"), (x, y) => x + y * lit(0.2))
                .as("v")))
        val flagged = Curation.semanticContamination(
            e.select(col("vec_id").as("id"), col("v")), probes, tau = 0.9)
          .select(col("id").as("doc_id"))
        val toks = Tables.load(spark, dir, "documents")
          .select(col("doc_id"),
            size(graft.functions.TextFunctions.tokens(col("text")))
              .cast("long").as("tk"))
        flagged.join(toks, Seq("doc_id"))
          .agg(count(lit(1)).as("n_dirty_docs"),
            coalesce(sum(col("tk")), lit(0L)).as("dirty_tokens"))
          .select(lit("semantic").as("rung"), col("n_dirty_docs"),
            col("dirty_tokens"))
      },
      Some("""WITH tr AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |pe AS (
             |  SELECT 9101 AS eid,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5) AS v
             |  FROM embeddings WHERE vec_id = 5
             |  UNION ALL
             |  SELECT 9102, list_transform(generate_series(1, len(a.embedding)),
             |    i -> CAST(a.embedding[i] AS DOUBLE)
             |      + CAST(b.embedding[i] AS DOUBLE) * 0.2)
             |  FROM embeddings a, embeddings b
             |  WHERE a.vec_id = 6 AND b.vec_id = 7),
             |tn AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS vn FROM tr
             |  WHERE sqrt(list_dot_product(v, v)) > 0),
             |en AS (SELECT eid, v, sqrt(list_dot_product(v, v)) AS en FROM pe
             |  WHERE sqrt(list_dot_product(v, v)) > 0),
             |flg AS (SELECT DISTINCT t.id FROM tn t, en e
             |  WHERE list_dot_product(t.v, e.v) / (t.vn * e.en) >= 0.9),
             |tkc AS (SELECT doc_id, CAST(len(string_split_regex(
             |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
             |    AS BIGINT) AS tk FROM documents)
             |SELECT 'semantic' AS rung,
             |  CAST(count(*) AS BIGINT) AS n_dirty_docs,
             |  CAST(coalesce(sum(tk), 0) AS BIGINT) AS dirty_tokens
             |FROM flg JOIN tkc ON tkc.doc_id = flg.id""".stripMargin)),

    // INCREMENTAL STRIP-LIST MAINTENANCE (Curation
    // .boilerplateFingerprintsFromIndex) — the q242 discipline on the
    // miner: the strip-list is ONE df-aggregation over the winnowing
    // postings, so an epoch index kept current through upsert (q269's
    // machinery) re-mines without re-fingerprinting any text — and
    // deletion is LOAD-BEARING here: template B's carriers fall below
    // the df bar when half are deleted, so B must VANISH from the
    // mined list while template A (untouched carriers) stays. Fixture:
    // header A on docs 0–39, header B on docs 40–69; epoch = %3≠0,
    // batch = %3=0 (disjoint ids — the upsert contract), then delete
    // the even-id B carriers. Oracle = the full recompute over the
    // survivors (maintained == recompute, hash-equal).
    Q("q295_incremental_strip_list",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val headerA = "licensed under the corpus commons attribution " +
          "agreement version four point two "
        val headerB = "this material is reproduced from the municipal " +
          "gazette archive edition nine "
        val planted = d.select(col("doc_id"), col("source"),
          when(col("doc_id") < 40, concat(lit(headerA), col("text")))
            .when(col("doc_id") >= 40 && col("doc_id") < 70,
              concat(lit(headerB), col("text")))
            .otherwise(col("text")).as("text"))
        val epoch = planted.filter(col("doc_id") % 3 =!= 0)
        val batch = planted.filter(col("doc_id") % 3 === 0)
        val deleted = planted.filter(col("doc_id") >= 40 &&
          col("doc_id") < 70 && col("doc_id") % 2 === 0)
          .select(col("doc_id"))
        val idx = Curation.removeFromWinnowingIndex(
          Curation.upsertWinnowingIndex(
            Curation.winnowingFingerprints(epoch, "doc_id", "text", 25, 8),
            batch, "doc_id", "text", 25, 8),
          deleted, "doc_id")
        val meta = planted.join(deleted, Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("id"), col("source").as("_src"))
        Curation.boilerplateFingerprintsFromIndex(idx, meta, minDf = 25L)
          .select(
            // fp is an OUTPUT column here — wrap to signed (pandas
            // HUGEINT trap); internal joins elsewhere keep it raw
            col("fp"), col("df"), col("n_sources"))
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, source,
             |    CASE WHEN doc_id < 40
             |      THEN 'licensed under the corpus commons attribution agreement version four point two ' || text
             |      WHEN doc_id >= 40 AND doc_id < 70
             |      THEN 'this material is reproduced from the municipal gazette archive edition nine ' || text
             |      ELSE text END AS text
             |  FROM documents
             |  WHERE NOT (doc_id >= 40 AND doc_id < 70 AND doc_id % 2 = 0)),
             |$winnowSelCtes
             |SELECT CAST(CASE WHEN s.fp >= 9223372036854775808
             |    THEN s.fp - 18446744073709551616 ELSE s.fp END AS BIGINT)
             |    AS fp,
             |  CAST(count(*) AS BIGINT) AS df,
             |  CAST(count(DISTINCT c.source) AS BIGINT) AS n_sources
             |FROM csel s JOIN corpus c ON c.doc_id = s.doc_id
             |GROUP BY s.fp HAVING count(*) >= 25""".stripMargin)),

    // STREAMING SEMANTIC CONTAMINATION AT INGEST — q288 under
    // Structured Streaming: incoming vectors are probed against the
    // static eval set as they arrive, so embedding-space leaks are
    // quarantined before they train (the dense analog of q270's
    // text-side quarantine; with q245/q257/q280 this closes
    // query/contamination-at-ingest across every retrieval surface).
    // Stream-safe by construction: the probe is a stateless broadcast
    // nested-loop over the (tiny) eval side; the ONE stateful op is
    // the per-id flag aggregation in Complete mode. Same probes and τ
    // as q288 — streaming == batch, hash-equal against q288's oracle.
    Q("q297_streaming_semantic_contamination",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"),
            expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
        def vOf(id: Long) = e.filter(col("vec_id") === id)
        val e1 = vOf(0).select(lit(9001L).as("eid"), col("v"))
        val e2 = vOf(1).select(lit(9002L).as("eid"),
          transform(col("v"), x => x * lit(2.0)).as("v"))
        val e3 = vOf(2).select(col("v").as("a"))
          .crossJoin(vOf(3).select(col("v").as("b")))
          .select(lit(9003L).as("eid"),
            zip_with(col("a"), col("b"), (x, y) => x + y * lit(0.2)).as("v"))
        val e4 = vOf(4).select(col("v").as("a"))
          .crossJoin(vOf(5).select(col("v").as("b")))
          .select(lit(9004L).as("eid"),
            zip_with(col("a"), col("b"), (x, y) => (x + y) * lit(0.5)).as("v"))
        val probes = e1.unionByName(e2).unionByName(e3).unionByName(e4)
        val incoming = e.select(col("vec_id").as("id"), col("v"))
        val inDir = s"/tmp/graft-semingest-" +
          s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(incoming, "id", s"$dir/embeddings_semingest")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          incoming.write.mode("overwrite").parquet(inDir)
        graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => Curation.semanticContamination(stream, probes, tau = 0.9),
          org.apache.spark.sql.streaming.OutputMode.Complete,
          s"q297_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
      },
      Some(semanticContaminationOracle)),

    // RELEASE BUILD — the END-TO-END curation funnel in one gated
    // artifact: exact dedup (keep-lowest-id) → benchmark
    // decontamination (drop 13-gram carriers) → template strip (mine
    // on the SURVIVORS, cut) → per-source release card with the drop
    // receipt of every stage. This is the composition a corpus release
    // actually runs, and the gate pins the INTERACTIONS (a dup copy of
    // the contaminated doc falls to dedup first, so the contamination
    // stage drops only the original; the strip-list is mined on what
    // survives, not the raw corpus). Fixture: q290's header + copies +
    // eval-slice plant. Oracle replays all three stages and the
    // rollup.
    Q("q298_release_build",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val header = "licensed under the corpus commons attribution " +
          "agreement version four point two "
        val planted = d.select(col("doc_id"), col("source"),
          when(col("doc_id") < 40, concat(lit(header), col("text")))
            .otherwise(col("text")).as("text"))
        val corpus = graft.operators.OperatorCaches.track(
          planted.unionByName(planted.filter(col("doc_id") < 20)
            .select((col("doc_id") + 95000L).as("doc_id"), col("source"),
              col("text"))).persist())
        // stage 1: exact dedup, keep-lowest-id
        val keeper = min(col("doc_id")).over(Window.partitionBy(col("text")))
        val s1 = graft.operators.OperatorCaches.track(corpus
          .withColumn("_keep", keeper)
          .filter(col("doc_id") === col("_keep"))
          .drop("_keep").persist())
        // stage 2: decontamination (raw 13-gram vs the eval slice)
        val evalSet = d.filter(col("doc_id") === 1)
          .select(lit(95001L).as("doc_id"),
            substring(col("text"), 31, 200).as("text"))
        val contamIds = Curation.ngramContamination(
          s1, evalSet, "doc_id", "text", n = 13)
          .select(col("id").as("doc_id"))
        val s2 = graft.operators.OperatorCaches.track(
          s1.join(contamIds, Seq("doc_id"), "left_anti").persist())
        // stage 3: template strip, mined on the survivors
        val mined = Curation.boilerplateFingerprints(s2, "doc_id",
          "text", "source", k = 25, w = 8, minDf = 25L).select(col("fp"))
        val stripped = Curation.stripBoilerplate(s2, mined,
            "doc_id", "text", 25, 8)
          .join(s2.select(col("doc_id").as("id"), col("source")), Seq("id"))
        // rollup: the release card with per-stage receipts
        val in = corpus.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs_in"))
        val dupDrop = corpus.withColumn("_keep", keeper)
          .filter(col("doc_id") =!= col("_keep"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_dropped_dup"))
        val conDrop = s1.join(contamIds, Seq("doc_id"), "left_semi")
          .groupBy(col("source")).agg(count(lit(1)).as("n_dropped_contam"))
        val rel = stripped.groupBy(col("source"))
          .agg(count(lit(1)).as("n_released"),
            sum(when(col("n_spans") > 0, 1L).otherwise(0L)).as("n_stripped"),
            sum(col("removed_chars")).as("chars_removed"),
            sum(size(graft.functions.TextFunctions.tokens(col("clean_text")))
              .cast("long")).as("toks_released"))
        in.join(dupDrop, Seq("source"), "left")
          .join(conDrop, Seq("source"), "left")
          .join(rel, Seq("source"))
          .select(col("source"), col("n_docs_in"),
            coalesce(col("n_dropped_dup"), lit(0L)).as("n_dropped_dup"),
            coalesce(col("n_dropped_contam"), lit(0L)).as("n_dropped_contam"),
            col("n_released"), col("n_stripped"), col("chars_removed"),
            col("toks_released"))
      },
      Some(s"""WITH ${headerCorpusCte("planted")},
             |corpus AS (
             |  SELECT doc_id, source, text FROM planted
             |  UNION ALL
             |  SELECT doc_id + 95000, source, text
             |  FROM planted WHERE doc_id < 20),
             |keyed AS (SELECT doc_id, source, text,
             |    min(doc_id) OVER (PARTITION BY text) AS kp FROM corpus),
             |s1 AS (SELECT doc_id, source, text FROM keyed WHERE doc_id = kp),
             |ew AS (SELECT string_split_regex(regexp_replace(
             |    substr(text, 31, 200), '^\\s+|\\s+$$', '', 'g'), '\\s+') AS w
             |  FROM documents WHERE doc_id = 1),
             |eg AS (SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS g
             |  FROM (SELECT w, unnest(generate_series(1, len(w) - 12)) AS i
             |        FROM ew WHERE len(w) >= 13)),
             |${wordGramCtes("t", src = "s1", key = Some("doc_id"))},
             |contam AS (SELECT DISTINCT t.doc_id FROM tg t JOIN eg e ON e.g = t.g),
             |s2 AS (SELECT * FROM s1
             |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
             |${boilerplateStripCtes("s2", "stst")},
             |relc AS (SELECT s.doc_id, s.source,
             |    coalesce(cl.ct, s.text) AS ctext,
             |    coalesce(st.n_spans, 0) AS n_spans,
             |    coalesce(st.removed, 0) AS removed
             |  FROM s2 s LEFT JOIN cleaned cl ON cl.doc_id = s.doc_id
             |    LEFT JOIN stst st ON st.doc_id = s.doc_id),
             |incnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs_in
             |  FROM corpus GROUP BY source),
             |dups AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dropped_dup
             |  FROM keyed WHERE doc_id <> kp GROUP BY source),
             |cond AS (SELECT s.source,
             |    CAST(count(*) AS BIGINT) AS n_dropped_contam
             |  FROM s1 s JOIN contam c ON c.doc_id = s.doc_id
             |  GROUP BY s.source),
             |relagg AS (SELECT source,
             |    CAST(count(*) AS BIGINT) AS n_released,
             |    CAST(sum(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_stripped,
             |    CAST(sum(removed) AS BIGINT) AS chars_removed,
             |    CAST(sum(len(string_split_regex(
             |      regexp_replace(ctext, '^\\s+|\\s+$$', '', 'g'), '\\s+')))
             |      AS BIGINT) AS toks_released
             |  FROM relc GROUP BY source)
             |SELECT i.source, i.n_docs_in,
             |  coalesce(d.n_dropped_dup, 0) AS n_dropped_dup,
             |  coalesce(c.n_dropped_contam, 0) AS n_dropped_contam,
             |  r.n_released, r.n_stripped, r.chars_removed, r.toks_released
             |FROM incnt i
             |LEFT JOIN dups d ON d.source = i.source
             |LEFT JOIN cond c ON c.source = i.source
             |JOIN relagg r ON r.source = i.source""".stripMargin)),

    // INCREMENTAL DATA CARD (Curation.cardStats / upsertCardStats /
    // removeCardStats / dataCardFromStats) — the q242
    // sufficient-statistics discipline on the RELEASE CARD: per-doc
    // facts (tokens, PII, contamination-vs-epoch-eval, text hash) and
    // the winnowing postings maintain through an append-only batch and
    // a deletion, and the card derives from the stats alone — no
    // epoch re-scan. The global columns are the load-bearing part:
    // dup-ness derives from maintained hash COUNTS (deleting docs
    // 0–9's copies UN-DUPS the surviving originals — a stored flag
    // could never get that right), and boilerplate carrier-ship
    // re-derives under the df bar as maintenance shifts df. Fixture:
    // q290's plants; epoch/batch split %3 so dup pairs SPAN the
    // upsert boundary; delete the first ten copies + five PII-tail
    // docs. Oracle = the full q290 recompute over the survivors
    // (maintained == recompute, hash-equal).
    Q("q299_incremental_data_card",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("text"))
        val header = "licensed under the corpus commons attribution " +
          "agreement version four point two "
        val planted = d.select(col("doc_id"), col("source"), col("lang"),
          when(col("doc_id") < 40, concat(lit(header), col("text")))
            .otherwise(col("text")).as("text"))
          .select(col("doc_id"), col("source"), col("lang"),
            when(expr("(doc_id DIV 20) % 5") === 2,
              concat(col("text"), lit(" contact user7@ex.org now")))
              .otherwise(col("text")).as("text"))
        val pool = planted.unionByName(planted.filter(col("doc_id") < 20)
          .select((col("doc_id") + 95000L).as("doc_id"), col("source"),
            col("lang"), col("text")))
        val epoch = pool.filter(col("doc_id") % 3 =!= 0)
        val batch = pool.filter(col("doc_id") % 3 === 0)
        val evalSet = d.filter(col("doc_id") === 1)
          .select(lit(95001L).as("doc_id"),
            substring(col("text"), 31, 200).as("text"))
        val deleted = pool.filter(
          (col("doc_id") >= 95000L && col("doc_id") < 95010L) ||
            (col("doc_id") >= 40L && col("doc_id") < 45L))
          .select(col("doc_id"))
        val maintained = Curation.removeCardStats(
          Curation.upsertCardStats(
            Curation.cardStats(epoch, "doc_id", "source", "lang",
              "text", evalSet),
            batch, "doc_id", "source", "lang", "text", evalSet),
          deleted, "doc_id")
        Curation.dataCardFromStats(maintained, minDf = 25L)
      },
      Some(dataCardHead(
        """  SELECT doc_id, source, lang, text FROM planted
          |  WHERE NOT (doc_id >= 40 AND doc_id < 45)
          |  UNION ALL
          |  SELECT doc_id + 95000, source, lang, text
          |  FROM planted WHERE doc_id >= 10 AND doc_id < 20""".stripMargin) +
        """
          |  JOIN tkc t ON t.doc_id = c.doc_id
          |  LEFT JOIN (SELECT DISTINCT doc_id FROM dups) dp ON dp.doc_id = c.doc_id
          |  LEFT JOIN (SELECT DISTINCT doc_id FROM pii) pi ON pi.doc_id = c.doc_id
          |  LEFT JOIN contam co ON co.doc_id = c.doc_id
          |  LEFT JOIN boiler bo ON bo.doc_id = c.doc_id
          |GROUP BY c.source""".stripMargin)),

    // SOURCE DATA CARD — the one-artifact per-source census a corpus
    // release ships with (the "datasheet" rollup): doc and token
    // counts, exact-duplicate carriers, PII carriers (4-class
    // battery), benchmark-contaminated docs (raw 13-gram), mined-
    // boilerplate carriers, non-English share — every column the
    // output of an already-gated operator family, joined into ONE
    // frame so a release reviewer reads one table instead of six
    // reports. Fixture: the q283 header on docs 0–39 (boilerplate
    // bites), exact copies of docs 0–19 at +95000 (one dup pair per
    // source), the q285 slice of doc 1 as the eval probe (its source
    // shows contamination); PII is whatever the corpus organically
    // carries (deterministic). Scale shape: the corpus persists once;
    // each flag column is its own gated family's shape (semi-joins,
    // broadcast eval/mined sides); the rollup is one source-keyed agg.
    Q("q290_source_data_card",
      (spark, dir) => {
        import graft.functions.TextFunctions
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("text"))
        val header = "licensed under the corpus commons attribution " +
          "agreement version four point two "
        val planted = d.select(col("doc_id"), col("source"), col("lang"),
          when(col("doc_id") < 40, concat(lit(header), col("text")))
            .otherwise(col("text")).as("text"))
          // PII tail on one full id-block per 5 (ids 40–59, 140–159, …)
          // so every source carries some PII docs — the corpus has no
          // organic PII and a card column that can never read nonzero
          // is untested surface
          .select(col("doc_id"), col("source"), col("lang"),
            when(expr("(doc_id DIV 20) % 5") === 2,
              concat(col("text"), lit(" contact user7@ex.org now")))
              .otherwise(col("text")).as("text"))
        val corpus = graft.operators.OperatorCaches.track(
          planted.unionByName(planted.filter(col("doc_id") < 20)
            .select((col("doc_id") + 95000L).as("doc_id"), col("source"),
              col("lang"), col("text"))).persist())
        val dupIds = corpus.join(
          corpus.groupBy(col("text")).agg(count(lit(1)).as("_c"))
            .filter(col("_c") >= 2).select(col("text")),
          Seq("text"), "left_semi").select(col("doc_id"))
        val pc = TextFunctions.piiBatteryCounts(col("text")).toMap
        val piiIds = corpus.filter(
          (pc("n_emails") + pc("n_ids") + pc("n_longids") +
            pc("n_phones")) > 0).select(col("doc_id"))
        val evalSet = d.filter(col("doc_id") === 1)
          .select(lit(95001L).as("doc_id"),
            substring(col("text"), 31, 200).as("text"))
        val contamIds = Curation.ngramContamination(
          corpus, evalSet, "doc_id", "text", n = 13)
          .select(col("id").as("doc_id"))
        val mined = Curation.boilerplateFingerprints(corpus, "doc_id",
          "text", "source", k = 25, w = 8, minDf = 25L).select(col("fp"))
        val boilerIds = Curation.winnowingFingerprints(
            corpus, "doc_id", "text", 25, 8)
          .join(broadcast(mined), Seq("fp"))
          .select(col("id").as("doc_id")).distinct()
        def flag(ids: org.apache.spark.sql.DataFrame, name: String) =
          ids.distinct().withColumn(name, lit(1L))
        corpus.select(col("doc_id"), col("source"), col("lang"),
            size(TextFunctions.tokens(col("text"))).cast("long").as("tk"))
          .join(flag(dupIds, "_dup"), Seq("doc_id"), "left")
          .join(flag(piiIds, "_pii"), Seq("doc_id"), "left")
          .join(flag(contamIds, "_con"), Seq("doc_id"), "left")
          .join(flag(boilerIds, "_boi"), Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tk")).as("n_tokens"),
            sum(coalesce(col("_dup"), lit(0L))).as("dup_docs"),
            sum(coalesce(col("_pii"), lit(0L))).as("pii_docs"),
            sum(coalesce(col("_con"), lit(0L))).as("contam_docs"),
            sum(coalesce(col("_boi"), lit(0L))).as("boiler_docs"),
            sum(when(col("lang") =!= "en", 1L).otherwise(0L))
              .as("nonen_docs"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("dup_docs"), col("pii_docs"), col("contam_docs"),
            col("boiler_docs"), col("nonen_docs"),
            expr("dup_docs * 1000000 DIV n_docs").as("dup_micro"))
      },
      Some(dataCardHead(
        """  SELECT doc_id, source, lang, text FROM planted
          |  UNION ALL
          |  SELECT doc_id + 95000, source, lang, text
          |  FROM planted WHERE doc_id < 20""".stripMargin) +
        """
          |  JOIN tkc t USING (doc_id)
          |  LEFT JOIN (SELECT DISTINCT doc_id FROM dups) dp USING (doc_id)
          |  LEFT JOIN (SELECT DISTINCT doc_id FROM pii) pi USING (doc_id)
          |  LEFT JOIN contam co USING (doc_id)
          |  LEFT JOIN boiler bo USING (doc_id)
          |GROUP BY c.source""".stripMargin)),

    // SPAN-EVIDENCE DEDUP VERDICTS (Curation.spanDedupVerdicts) — the
    // char-level dedup DECISION made on verified extent: a doc drops
    // iff it shares a ≥100-char exact span with any lower-id doc
    // (keep-lowest-id neighbor rule over q272's verified pairs). The
    // planted 150-char quoters drop against their sources; pairs
    // sharing only short scattered runs don't qualify.
    Q("q284_span_dedup_verdicts",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val quoters = d.filter(col("doc_id") < 8)
          .select((col("doc_id") + 96000L).as("doc_id"),
            concat(substring(col("text"), 1, 150),
              lit(" entirely new commentary words follow the lifted passage"))
              .as("text"))
        Curation.spanDedupVerdicts(d.unionByName(quoters),
          "doc_id", "text", minSpan = 100L,
          k = 25, w = 8, minShared = 2, maxDf = 20)
      },
      Some(s"""WITH $quoterCorpusCte,
             |$winnowSelCtes,
             |rare AS (SELECT fp FROM csel GROUP BY fp HAVING count(*) <= 20),
             |capped AS (SELECT doc_id, fp FROM csel JOIN rare USING (fp)),
             |cand AS (SELECT a.doc_id AS idA, b.doc_id AS idB
             |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |mm AS (SELECT cd.idA, cd.idB, ga.i - gb.i AS d, gb.i AS ei
             |  FROM cand cd
             |  JOIN cgr ga ON ga.doc_id = cd.idA
             |  JOIN cgr gb ON gb.doc_id = cd.idB AND gb.h = ga.h),
             |runs AS (SELECT idA, idB, count(*) AS run FROM (
             |    SELECT idA, idB, d,
             |      ei - ROW_NUMBER() OVER (PARTITION BY idA, idB, d
             |        ORDER BY ei) AS grp
             |    FROM mm)
             |  GROUP BY idA, idB, d, grp),
             |spans AS (SELECT idA, idB,
             |    CAST(max(run) + 24 AS BIGINT) AS span_chars
             |  FROM runs GROUP BY 1, 2),
             |qual AS (SELECT idA, idB, span_chars FROM spans
             |  WHERE span_chars >= 100),
             |sides AS (
             |  SELECT idA AS doc_id, idB AS partner, span_chars FROM qual
             |  UNION ALL
             |  SELECT idB, idA, span_chars FROM qual)
             |SELECT doc_id,
             |  CASE WHEN min(partner) < doc_id THEN 'drop' ELSE 'keep' END
             |    AS verdict,
             |  max(span_chars) AS max_span,
             |  CAST(count(*) AS BIGINT) AS n_partners
             |FROM sides GROUP BY doc_id""".stripMargin)),

    // EMBEDDING DRIFT (Curation.embeddingDriftCos) — q230's dense
    // sibling: per-source cosine between OLD (even 20-id block) and
    // NEW (odd block) epoch centroids. The raw synthetic embeddings
    // carry NO per-source structure (random centroids ≈ noise, cos ≈
    // 0 — measured on the first fixture), so the fixture gives every
    // vector a deterministic source-signature dimension (+2.0 on
    // dim = vec_id%20, both epochs → unplanted sources cohere) and
    // the NEW epoch of every %5==0 source an extra +2.0 on dim
    // src+32 — the model-version shift the monitor must flag (those
    // four sources read cos ≈ 0.7, the rest near 1). The epoch split
    // is by 20-id BLOCK: source = src(doc_id % 20), so any id-mod
    // split leaves the source sets disjoint (found by the empty first
    // gate). Components quantize to integer micros per row BEFORE
    // summing (associative — partition order cannot move the result),
    // centroids re-round once, dot/norms are exact BIGINT products,
    // one sqrt/round at the end. The oracle replays the signature and
    // plant arithmetic, the quantization, and the cosine.
    Q("q231_embedding_drift",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"))
        val base = e.join(d, e("vec_id") === d("doc_id"))
          .select(col("vec_id"), col("source"),
            expr("transform(CAST(embedding AS ARRAY<DOUBLE>), (x, i) -> " +
              "x + CASE WHEN i = vec_id % 20 THEN 2.0D ELSE 0.0D END)")
              .as("v"))
        val oldV = base.filter(expr("(vec_id DIV 20) % 2") === 0)
        val newV = base.filter(expr("(vec_id DIV 20) % 2") === 1)
          .select(col("vec_id"), col("source"),
            when(col("vec_id") % 20 % 5 === 0,
              expr("transform(v, (x, i) -> x + CASE WHEN " +
                "i = vec_id % 20 + 32 THEN 2.0D ELSE 0.0D END)"))
              .otherwise(col("v")).as("v"))
        Curation.embeddingDriftCos(oldV, newV, "source", "v")
      },
      Some("""WITH base AS (SELECT e.vec_id, d.source,
             |    list_transform(generate_series(1, len(e.embedding)),
             |      i -> CAST(e.embedding[i] AS DOUBLE)
             |        + CASE WHEN i = e.vec_id % 20 + 1 THEN 2.0 ELSE 0.0 END)
             |      AS v
             |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
             |oldv AS (SELECT source, v FROM base WHERE (vec_id // 20) % 2 = 0),
             |newv AS (SELECT source, CASE WHEN vec_id % 20 % 5 = 0
             |    THEN list_transform(generate_series(1, len(v)),
             |      i -> v[i] + CASE WHEN i = vec_id % 20 + 33
             |        THEN 2.0 ELSE 0.0 END)
             |    ELSE v END AS v
             |  FROM base WHERE (vec_id // 20) % 2 = 1),
             |oc AS (SELECT source, i AS dim,
             |    CAST(sum(CAST(round(v[i] * 1000000) AS BIGINT)) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM oldv, unnest(generate_series(1, len(v))) AS t(i)
             |  GROUP BY 1, 2),
             |nc AS (SELECT source, i AS dim,
             |    CAST(sum(CAST(round(v[i] * 1000000) AS BIGINT)) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM newv, unnest(generate_series(1, len(v))) AS t(i)
             |  GROUP BY 1, 2),
             |om AS (SELECT source, dim,
             |    CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) AS mo, n FROM oc),
             |nm AS (SELECT source, dim,
             |    CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) AS mn, n FROM nc)
             |SELECT o.source, max(o.n) AS n_old, max(nw.n) AS n_new,
             |  round(CAST(sum(o.mo * nw.mn) AS DOUBLE)
             |    / (sqrt(CAST(sum(o.mo * o.mo) AS DOUBLE))
             |      * sqrt(CAST(sum(nw.mn * nw.mn) AS DOUBLE))), 6) AS cos_sim
             |FROM om o JOIN nm nw ON nw.source = o.source AND nw.dim = o.dim
             |GROUP BY o.source""".stripMargin)),

    // CORPUS DRIFT (Curation.corpusDriftKl) — smoothed unigram
    // KL(new ‖ old) in integer micro-nats between two corpus versions,
    // the dataset-shift monitor run between crawls: old = %2==0 docs,
    // new = %2==1 docs with a planted topic shift (every %10==1 doc
    // gains a crypto-jargon tail) — the planted terms MUST own the top
    // of the drift report (c_old 0, large positive contribs) and push
    // kl_total_micro > 0. One ln of an exact integer ratio per term
    // (q210's micro-nat discipline), total = associative integer sum;
    // the oracle replays the joint vocab, the smoothing, and the
    // expression order bit-for-bit.
    Q("q230_corpus_drift_kl",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val oldC = d.filter(col("doc_id") % 2 === 0)
        val newC = d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 1,
              concat(col("text"),
                lit(" crypto blockchain token ledger staking validator")))
              .otherwise(col("text")).as("text"))
        Curation.corpusDriftKl(oldC, newC, "text")
      },
      Some(driftKlOracle)),

    // STREAMING DRIFT MONITOR — q230's streaming twin, completing the
    // drift family's streaming membership: the NEW epoch arrives as a
    // stream and its ONLY stateful operator is the per-term token
    // count (Complete mode — the drift monitor's sufficient statistic,
    // Curation.termCounts); the KL contribution arithmetic runs
    // batch-side over the materialized counts against the static old
    // epoch (Curation.corpusDriftKlFromCounts). Same fixture and
    // oracle as q230: streaming == batch, hash-equal.
    Q("q248_streaming_drift_monitor",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val oldC = d.filter(col("doc_id") % 2 === 0)
        val newC = d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 1,
              concat(col("text"),
                lit(" crypto blockchain token ledger staking validator")))
              .otherwise(col("text")).as("text"))
        val inDir = s"/tmp/graft-driftstream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(newC, "doc_id", s"$dir/documents_driftstream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          newC.write.mode("overwrite").parquet(inDir)
        val newCounts = graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => Curation.termCounts(stream, "text"),
          org.apache.spark.sql.streaming.OutputMode.Complete,
          s"q248_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
        Curation.corpusDriftKlFromCounts(
          Curation.termCounts(oldC, "text").withColumnRenamed("c", "co"),
          newCounts.withColumnRenamed("c", "cn"))
      },
      Some(driftKlOracle)),

    // CODE-SWITCHING REPORT (Curation.codeSwitchReport) — line-level
    // language disagreement per doc, the CCNet mixed-language signal:
    // lines = the q209 7-token reconstruction; %7==0 docs get a planted
    // Spanish marker line, %7==1 a German one → those docs MUST read
    // mixed=1 with the foreign label in their line counts, while en+und
    // docs stay unmixed ('und' is not a language). dom_lang total order
    // (count DESC, lang ASC); minority_frac is the cut knob. Oracle
    // replays line splitting, the 5-language marker argmax per line
    // (q32's encoding), and both aggregations.
    // STREAMING LANGUAGE GATE — q229's zero-state stream twin: the
    // mixed-language verdict computed ROW-WISE (the per-doc line langs
    // live inside one row, so the whole gate is a stateless projection
    // — the q207 streaming-scorer discipline: no aggregation state, a
    // micro-batch is embarrassingly parallel at any rate). Same planted
    // corpus as q229; the gate re-derives n_lines/n_langs/mixed per doc
    // and must agree with the batch report's columns exactly.
    Q("q233_streaming_language_gate",
      (spark, dir) => {
        val corpus = codeSwitchCorpus(spark, dir)
        val inDir = s"/tmp/graft-langstream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(corpus, "doc_id", s"$dir/documents_langstream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          corpus.write.mode("overwrite").parquet(inDir)
        graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => stream
            .select(col("doc_id"),
              transform(split(col("text"), "\n"),
                l => TextFunctions.langId(l)).as("_ls"))
            .select(col("doc_id"),
              size(col("_ls")).cast("long").as("n_lines"),
              size(array_distinct(filter(col("_ls"), l => l =!= "und")))
                .cast("long").as("n_langs"))
            .select(col("doc_id"), col("n_lines"), col("n_langs"),
              when(col("n_langs") >= 2, 1L).otherwise(0L).as("mixed")),
          org.apache.spark.sql.streaming.OutputMode.Append,
          s"q233_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
      },
      Some(s"""WITH $codeSwitchCtes
             |SELECT doc_id, n_lines, n_langs,
             |  CAST(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END AS BIGINT) AS mixed
             |FROM tot""".stripMargin)),

    Q("q229_code_switch_report",
      (spark, dir) =>
        Curation.codeSwitchReport(
          codeSwitchCorpus(spark, dir), "doc_id", "text"),
      Some {
        s"""WITH $codeSwitchCtes,
           |dom AS (SELECT doc_id, llang, c, row_number() OVER (
           |    PARTITION BY doc_id ORDER BY c DESC, llang) AS rn FROM cnt)
           |SELECT t.doc_id, t.n_lines, t.n_langs, d.llang AS dom_lang,
           |  CAST(d.c AS BIGINT) AS dom_n,
           |  round(CAST(t.n_lines - d.c AS DOUBLE) / t.n_lines, 6)
           |    AS minority_frac,
           |  CAST(CASE WHEN t.n_langs >= 2 THEN 1 ELSE 0 END AS BIGINT) AS mixed
           |FROM tot t JOIN dom d ON d.doc_id = t.doc_id AND d.rn = 1""".stripMargin
      }),

    // PERPLEXITY TIERING (Curation.perplexityTiers): CCNet's
    // head/middle/tail quality buckets — per-doc mean unigram
    // surprisal (the q94-gated value), tier boundaries = exact
    // terciles of the mix64 hash-capped sample, assignment by
    // broadcast (mean, id) tuple comparison. The production-scalable
    // shape: no global sort/rank anywhere; one bounded sample collect
    // + a map-side CASE. The oracle replays the surprisal chain, the
    // mix64 sample, the sorted-boundary selection (row_number over
    // (mean, id)) and every per-doc tier.
    Q("q196_perplexity_tiers",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        Curation.perplexityTiers(d, "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_tokens"),
            col("mean_surprisal"), col("tier"))
      },
      Some(perplexityTierCtes +
        """
          |SELECT doc_id, n_tokens, m AS mean_surprisal, tier
          |FROM tiers""".stripMargin)),

    // CURRICULUM PACKING — packSequences with the quality ORDER knob
    // engaged: within each shard, docs pack in (tier, id) order, so the
    // head-tier (cleanest) documents fill the EARLY sequences of every
    // shard — the curriculum-learning data order, built from two gated
    // pieces (q196 tiers + q150 packing) with zero new kernels. The
    // gate hashes every doc's landing (shard, start_off, seq_id): one
    // doc assigned the wrong tier, or one cumulative sum drifting,
    // moves every offset after it in that shard. The oracle replays
    // tiers (shared CTE chain with q196) + the shard-partitioned
    // (tier, id)-ordered running sum.
    Q("q213_curriculum_packing",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val tiers = Curation.perplexityTiers(d, "doc_id", "text")
        val corpus = tiers.select(col("id"), col("tier"))
          .join(d.select(col("doc_id").as("id"), col("text")), Seq("id"))
        Curation.packSequences(corpus, "id",
            TextFunctions.tokens(lower(col("text"))),
            budgetTokens = 128, shards = 8, orderCols = Seq("tier"))
          .select(col("id").as("doc_id"), col("tier"), col("shard"),
            col("n_tokens"), col("start_off"), col("seq_id"))
      },
      Some(perplexityTierCtes +
        """,
          |pk AS (SELECT doc_id, tier, n_tokens, doc_id % 8 AS shard FROM tiers)
          |SELECT doc_id, tier, CAST(shard AS BIGINT) AS shard,
          |  CAST(n_tokens AS BIGINT) AS n_tokens,
          |  CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY shard
          |    ORDER BY tier, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          |    AS start_off,
          |  CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY shard
          |    ORDER BY tier, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 128 AS BIGINT)
          |    AS seq_id
          |FROM pk""".stripMargin)),

    // LEARNED-GATE curation funnel — q181 with the rule gate REPLACED
    // by the q185 classifier: rules label a sample, the perceptron
    // generalizes, and the MODEL's verdict gates the corpus — the full
    // CCNet production loop (heuristics bootstrap a classifier, the
    // classifier curates), composed with PII redaction and exact-dedup
    // keep-one into the same manifest shape as q181. Exact copies
    // (+10000 of every %3==0 doc) share injected PII, get identical
    // model scores by construction (same text → same features), and
    // dedup to the min-id keeper. The oracle replays the classifier
    // fit (the shared classifierCtes — byte-identical to q185's) AND
    // the funnel; a drift in any weight update flips some gate verdict
    // and changes the manifest rows.
    Q("q192_learned_gate_funnel",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val d = Tables.load(spark, dir, "documents")
        val inj = d.select(col("doc_id"), concat(col("text"),
            lit(" contact user"), col("doc_id") % 100,
            lit("@ex.org ref 987654"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0")).as("text"))
          .unionByName(TextQueries.qualityPlanted.toDF("doc_id", "text"))
        val corpus = inj.unionByName(
          inj.filter(col("doc_id") % 3 === 0 && col("doc_id") < 10000)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        val verdicts = graft.operators.QualityModel.classify(corpus,
          "doc_id", "text", TextQueries.gopherRules(col("text")).keep)
        val gated = corpus.join(verdicts.filter(col("pred") === 1L)
          .select(col("id").as("doc_id")), Seq("doc_id"))
        val counts = TextFunctions.piiBatteryCounts(col("text")).toMap
        val red = gated.select(col("doc_id"),
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
           |  FROM documents
           |  UNION ALL ${TextQueries.qualityPlantedSql}),
           |corpus AS (
           |  SELECT doc_id, text FROM inj
           |  UNION ALL SELECT doc_id + 10000, text FROM inj
           |  WHERE doc_id % 3 = 0 AND doc_id < 10000),
           |${classifierCtes("corpus")},
           |gated AS (SELECT c.doc_id, c.text AS t FROM corpus c
           |  JOIN sc ON sc.doc_id = c.doc_id WHERE sc.z > 0),
           |ch1 AS (SELECT doc_id, t, regexp_replace(t, '$em', '<EMAIL>', 'g') AS se FROM gated),
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

    // DSIR — Data Selection via Importance Resampling (Xie et al.
    // 2023): select raw docs RESEMBLING a small target corpus by
    // hashed-n-gram importance weight (operators/Dsir — scale-
    // invariant N/B pseudocount smoothing, one ln per bucket,
    // exact-integer micro-nat dot product, deterministic top-k
    // variant). Fixture plants the dial: target docs (%11==7) carry a
    // 4-word astronomy tail absent from the base corpus; %11==3 raw
    // docs carry the SAME tail (strong regime), %11==5 raw docs half
    // of it (weak regime) — measured top-50: sf0.001 = 36 full + 9
    // half + 5 none, sf0.1 = 50 full (every unigram AND bigram of the
    // tail aligns with the target distribution). The `regime` column
    // exposes the dial in the gate. The oracle replays tokenization,
    // unigram∪bigram fnv1a64 bucket hashing (prime modulus 997), the
    // smoothed integer ratio, each ln rounded once, the integer dot
    // product and the total-order top-k.
    Q("q218_dsir_selection",
      (spark, dir) => {
        val tail = " telescope galaxy nebula quasar"
        val half = " telescope galaxy"
        val base = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val target = base.filter(col("doc_id") % 11 === 7)
          .select(col("doc_id").as("id"),
            concat(col("text"), lit(tail)).as("text"))
        val raw = base.filter(col("doc_id") % 11 =!= 7)
          .select(col("doc_id").as("id"),
            when(col("doc_id") % 11 === 3, concat(col("text"), lit(tail)))
              .when(col("doc_id") % 11 === 5, concat(col("text"), lit(half)))
              .otherwise(col("text")).as("text"))
        graft.operators.Dsir.selectTopK(raw, target, "id", "text", k = 50)
          .withColumn("regime",
            when(col("id") % 11 === 3, "full")
              .when(col("id") % 11 === 5, "half").otherwise("none"))
      },
      Some {
        val fold = RelationalQueries5.fnvFold("g")
        def gramCtes(src: String, p: String): String =
          s"""${p}w AS (SELECT id, list_filter(string_split_regex(
             |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+'),
             |    w -> w <> '') AS ws FROM $src),
             |${p}g AS (
             |  SELECT id, g FROM (SELECT id, unnest(ws) AS g FROM ${p}w)
             |  UNION ALL
             |  SELECT id, ws[i] || ' ' || ws[i + 1] AS g
             |  FROM (SELECT id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
             |        FROM ${p}w)),
             |${p}b AS (SELECT id, CAST($fold % 997 AS BIGINT) AS bucket
             |  FROM ${p}g)""".stripMargin
        s"""WITH tgt AS (
           |  SELECT doc_id AS id, text || ' telescope galaxy nebula quasar' AS text
           |  FROM documents WHERE doc_id % 11 = 7),
           |raw AS (
           |  SELECT doc_id AS id,
           |    CASE WHEN doc_id % 11 = 3 THEN text || ' telescope galaxy nebula quasar'
           |         WHEN doc_id % 11 = 5 THEN text || ' telescope galaxy'
           |      ELSE text END AS text
           |  FROM documents WHERE doc_id % 11 <> 7),
           |${gramCtes("tgt", "t")},
           |${gramCtes("raw", "r")},
           |ctb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_t FROM tb GROUP BY 1),
           |crb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_r FROM rb GROUP BY 1),
           |tot AS (SELECT (SELECT count(*) FROM tb) AS t,
           |               (SELECT count(*) FROM rb) AS r),
           |lam AS (SELECT coalesce(ctb.bucket, crb.bucket) AS bucket,
           |    CAST(round(ln(
           |      CAST((coalesce(cnt_t, 0) * 997 + tot.t) * tot.r AS DOUBLE)
           |      / CAST((coalesce(cnt_r, 0) * 997 + tot.r) * tot.t AS DOUBLE))
           |      * 1000000) AS BIGINT) AS lam_micro
           |  FROM ctb FULL OUTER JOIN crb ON ctb.bucket = crb.bucket, tot),
           |dbc AS (SELECT id, bucket, CAST(count(*) AS BIGINT) AS n
           |  FROM rb GROUP BY 1, 2),
           |scores AS (SELECT id, CAST(sum(n) AS BIGINT) AS n_grams,
           |    CAST(sum(n * lam_micro) AS BIGINT) AS score_micro
           |  FROM dbc JOIN lam USING (bucket) GROUP BY 1),
           |ranked AS (SELECT id, n_grams, score_micro,
           |    row_number() OVER (ORDER BY score_micro DESC, id) AS rank
           |  FROM scores)
           |SELECT CAST(rank AS BIGINT) AS rank, id, n_grams, score_micro,
           |  CASE WHEN id % 11 = 3 THEN 'full'
           |       WHEN id % 11 = 5 THEN 'half' ELSE 'none' END AS regime
           |FROM ranked WHERE rank <= 50""".stripMargin
      }),
  )

  /** The q196 tier replay (surprisal chain → mix64 bottom-256 sample →
    * tercile boundaries → per-doc tier) ending in
    * `tiers(doc_id, n_tokens, m, tier)` — shared by q196 and q213's
    * curriculum packing. */
  /** The q205 temperature-weight chain (stats → α-scaled micro-nat
    * logs → max-anchored exp → weight_micro + total `tw(t)`) — shared
    * verbatim by q205 and the q220 apportionment. */
  /** q229/q233's shared fixture: documents rebuilt as 7-token lines,
    * a Spanish marker line planted on %7==0 docs, German on %7==1. */
  private def codeSwitchCorpus(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val base = d.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("_tk"))
      .select(col("doc_id"),
        expr("array_join(transform(sequence(0, CAST((size(_tk)-1) DIV 7 AS INT)), " +
          "i -> array_join(slice(_tk, i*7+1, 7), ' ')), '\n')").as("t0"))
    base.select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(col("t0"), lit("\nel la de que y en un es se no")))
        .when(col("doc_id") % 7 === 1,
          concat(col("t0"), lit("\nder die das und ist nicht ein mit zu ich")))
        .otherwise(col("t0")).as("text"))
  }

  /** The shared oracle chain for the code-switch family: line rebuild →
    * plant → per-line marker argmax → per-(doc, lang) counts `cnt` →
    * per-doc totals `tot(doc_id, n_lines, n_langs)`. */
  private def codeSwitchCtes: String = {
    val score = (l: String) => {
      val markers = TextFunctions.langMarkers(l).map(m => s"'$m'").mkString(",")
      s"lpad(CAST(len(list_filter(string_split_regex(lower(regexp_replace(line, '^\\s+|\\s+$$', '', 'g')), '\\s+'), t -> t IN ($markers))) AS VARCHAR), 5, '0') || '$l'"
    }
    val langs = TextFunctions.langMarkers.keys.toSeq.sorted
    s"""tk AS (
       |  SELECT doc_id, string_split_regex(
       |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
       |  FROM documents),
       |ml AS (SELECT doc_id, array_to_string(
       |    list_transform(generate_series(0, (len(t) - 1) // 7),
       |      i -> array_to_string(t[i*7 + 1 : i*7 + 7], ' ')),
       |    chr(10)) AS t0
       |  FROM tk),
       |corpus AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0
       |        THEN t0 || chr(10) || 'el la de que y en un es se no'
       |      WHEN doc_id % 7 = 1
       |        THEN t0 || chr(10) || 'der die das und ist nicht ein mit zu ich'
       |      ELSE t0 END AS text
       |  FROM ml),
       |lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
       |  FROM corpus),
       |scored AS (SELECT doc_id,
       |  list_max([${langs.map(score).mkString(",\n  ")}]) AS best
       |  FROM lines),
       |ll AS (SELECT doc_id, CASE WHEN best[1:5] = '00000' THEN 'und'
       |    ELSE best[6:7] END AS llang FROM scored),
       |cnt AS (SELECT doc_id, llang, count(*) AS c FROM ll GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
       |    CAST(sum(CASE WHEN llang <> 'und' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_langs
       |  FROM cnt GROUP BY 1)""".stripMargin
  }

  /** `corpus`-keyed winnowing selection (k = 25, w = 8): `cch(doc_id, t)`
    * lowercased, the FNV gram chain `cgr`, and the selected fingerprints
    * `csel(doc_id, fp)`. */
  private def winnowSelCtes: String =
    winnowCtes("c", id = "doc_id", src = "corpus", sel = "csel", keep = "doc_id, fp")

  /** The lowercased text `{p}ch` of `src(id, text)` and its FNV 25-gram
    * chain `{p}gr`. */
  private def winnowGramCtes(p: String, id: String, src: String): String =
    s"""${p}ch AS (SELECT $id, lower(text) AS t FROM $src),
       |${RelationalQueries5.fnvGramCtes(s"${p}gr", id, s"${p}ch")}""".stripMargin

  /** Winnowing (k = 25, w = 8) of `src(id, text)`: `winnowGramCtes` and
    * CTE `sel`, the distinct `keep` columns of each document's window
    * minima `(id, fp)`. */
  private def winnowCtes(p: String, id: String, src: String, sel: String,
      keep: String): String =
    s"""${winnowGramCtes(p, id, src)},
       |$sel AS (SELECT DISTINCT $keep FROM (
       |  SELECT $id, min(h) OVER (PARTITION BY $id ORDER BY i
       |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp FROM ${p}gr))""".stripMargin

  /** As `winnowCtes`, with `sel(fp)` the window minima of all documents,
    * taken without the id. */
  private def winnowFpCtes(p: String, id: String, src: String,
      sel: String): String =
    s"""${winnowGramCtes(p, id, src)},
       |$sel AS (SELECT DISTINCT fp FROM (
       |  SELECT min(h) OVER (PARTITION BY $id ORDER BY i
       |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp FROM ${p}gr))""".stripMargin

  /** Distinct word 13-grams of `src(text)`: whitespace tokens `{p}w(w)`
    * and grams `{p}g(g)`, each led by the `key` column when there is one. */
  private def wordGramCtes(p: String, src: String,
      key: Option[String]): String = {
    val lead = key.fold("")(k => s"$k, ")
    s"""${p}w AS (SELECT ${lead}string_split_regex(
       |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS w
       |  FROM $src),
       |${p}g AS (SELECT DISTINCT ${lead}array_to_string(w[i:i+12], ' ') AS g
       |  FROM (SELECT ${lead}w, unnest(generate_series(1, len(w) - 12)) AS i
       |        FROM ${p}w WHERE len(w) >= 13))""".stripMargin
  }

  /** The q259 leak probes as CTE `evals(id, text)`: 60-char slices of
    * docs 0–9 at +97000 and one original sentence, 97100. */
  private def leakProbeCte: String =
    """evals AS (
      |  SELECT doc_id + 97000 AS id, substr(text, 21, 60) AS text
      |  FROM documents WHERE doc_id < 10
      |  UNION ALL SELECT 97100,
      |    'the purple quantum walrus audits a crystalline ledger of unseen comets while seventeen translucent beacons hum beneath the patient glacier tonight')""".stripMargin

  /** The q283 boilerplate fixture as CTE `name`: the 79-char license
    * header planted on docs 0–39. */
  private def headerCorpusCte(name: String): String =
    s"""$name AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id < 40
       |      THEN 'licensed under the corpus commons attribution agreement version four point two ' || text
       |      ELSE text END AS text
       |  FROM documents)""".stripMargin

  /** The q272 span fixture as CTE `corpus`: documents plus 150-char
    * quoters of docs 0–7 at +96000. */
  private def quoterCorpusCte: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 96000,
      |    substr(text, 1, 150) || ' entirely new commentary words follow the lifted passage'
      |  FROM documents WHERE doc_id < 8)""".stripMargin

  /** The q287 positional strip over CTE `src(doc_id, text)` (k = 25,
    * w = 8, df bar 25): mined positional selections, island merge into
    * `merged(doc_id, g, s, e)`, the cut text `cleaned(doc_id, ct)` and
    * per-doc span stats as CTE `stats(doc_id, n_spans, removed)`. */
  private def boilerplateStripCtes(src: String, stats: String): String =
    s"""cch AS (SELECT doc_id, text, lower(text) AS t FROM $src),
       |${RelationalQueries5.fnvGramCtes("cgr", "doc_id", "cch")},
       |pk AS (SELECT doc_id, min(h * 1048576 + i) OVER (
       |    PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS key FROM cgr),
       |psel AS (SELECT DISTINCT doc_id,
       |    CAST(key % 1048576 AS BIGINT) AS i, key // 1048576 AS fp
       |  FROM pk),
       |mined AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM psel)
       |  GROUP BY fp HAVING count(*) >= 25),
       |hits AS (SELECT doc_id, i FROM psel JOIN mined USING (fp)),
       |mk AS (SELECT doc_id, i,
       |  CASE WHEN max(i + 25) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |    OR i > max(i + 25) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    THEN 1 ELSE 0 END AS isl0 FROM hits),
       |isl AS (SELECT doc_id, i, sum(isl0) OVER (PARTITION BY doc_id
       |  ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM mk),
       |merged AS (SELECT doc_id, g, min(i) AS s, max(i) + 25 AS e
       |  FROM isl GROUP BY 1, 2),
       |gaps AS (
       |  SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id
       |      ORDER BY s), 1) AS gs, s AS ge FROM merged
       |  UNION ALL
       |  SELECT doc_id, max(e) AS gs, NULL AS ge FROM merged
       |  GROUP BY doc_id),
       |cleaned AS (
       |  SELECT g.doc_id, string_agg(
       |    substr(c.text, CAST(g.gs AS INT),
       |      CAST(coalesce(g.ge, length(c.text) + 1) - g.gs AS INT)),
       |    '' ORDER BY g.gs) AS ct
       |  FROM gaps g JOIN $src c ON c.doc_id = g.doc_id GROUP BY 1),
       |$stats AS (SELECT doc_id, count(*) AS n_spans,
       |    sum(e - s) AS removed FROM merged GROUP BY 1)""".stripMargin

  /** q287's oracle: the planted corpus cut by the positional strip
    * (shared by the streaming form, q291). */
  private def boilerplateStripOracle: String =
    s"""WITH ${headerCorpusCte("corpus")},
       |${boilerplateStripCtes("corpus", "stats")}
       |SELECT c.doc_id AS id,
       |  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(st.removed, 0) AS BIGINT) AS removed_chars,
       |  CAST(coalesce(length(coalesce(cl.ct, c.text)), 0) AS BIGINT)
       |    AS clean_len,
       |  coalesce(cl.ct, c.text) AS clean_text
       |FROM corpus c LEFT JOIN stats st ON st.doc_id = c.doc_id
       |  LEFT JOIN cleaned cl ON cl.doc_id = c.doc_id""".stripMargin

  /** q288's fixture and cosines: train vectors `tn(id, v, vn)`, the four
    * evasion-class probes `en(eid, v, en)` and every pair's
    * `sims(id, eid, sim)`. */
  private def semanticSimsCtes: String =
    """tr AS (SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |pe AS (
      |  SELECT 9001 AS eid,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id = 0
      |  UNION ALL
      |  SELECT 9002, list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0)
      |  FROM embeddings WHERE vec_id = 1
      |  UNION ALL
      |  SELECT 9003, list_transform(generate_series(1, len(a.embedding)),
      |    i -> CAST(a.embedding[i] AS DOUBLE)
      |      + CAST(b.embedding[i] AS DOUBLE) * 0.2)
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id = 2 AND b.vec_id = 3
      |  UNION ALL
      |  SELECT 9004, list_transform(generate_series(1, len(a.embedding)),
      |    i -> (CAST(a.embedding[i] AS DOUBLE)
      |      + CAST(b.embedding[i] AS DOUBLE)) * 0.5)
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id = 4 AND b.vec_id = 5),
      |tn AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS vn FROM tr
      |  WHERE sqrt(list_dot_product(v, v)) > 0),
      |en AS (SELECT eid, v, sqrt(list_dot_product(v, v)) AS en FROM pe
      |  WHERE sqrt(list_dot_product(v, v)) > 0),
      |sims AS (SELECT t.id, e.eid,
      |    list_dot_product(t.v, e.v) / (t.vn * e.en) AS sim
      |  FROM tn t, en e)""".stripMargin

  /** q288's oracle (shared by the streaming form, q297). */
  private def semanticContaminationOracle: String =
    s"""WITH $semanticSimsCtes
       |SELECT id, CAST(count(*) AS BIGINT) AS n_probes_hit,
       |  round(max(sim), 6) AS max_sim
       |FROM sims WHERE sim >= 0.9 GROUP BY id""".stripMargin

  /** q290's source data card up to `FROM corpus c`: the planted
    * fixture `planted`, CTE `corpus` with body `corpusSql`, and the
    * per-doc flag CTEs (tokens, dups, PII, contamination, boilerplate). */
  private def dataCardHead(corpusSql: String): String = {
    val em = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val idp = """\b\d{3}-\d{2}-\d{4}\b"""
    val lg = """\b\d{9,}\b"""
    val ph = """\+?\d[\d()\- ]{6,}\d"""
    s"""WITH planted AS (
       |  SELECT doc_id, source, lang,
       |    CASE WHEN doc_id < 40
       |      THEN 'licensed under the corpus commons attribution agreement version four point two ' || text
       |      ELSE text END
       |    || CASE WHEN (doc_id // 20) % 5 = 2
       |      THEN ' contact user7@ex.org now' ELSE '' END AS text
       |  FROM documents),
       |corpus AS (
       |$corpusSql),
       |tkc AS (SELECT doc_id, CAST(len(string_split_regex(
       |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+'))
       |    AS BIGINT) AS tk FROM corpus),
       |dups AS (SELECT doc_id FROM corpus WHERE text IN (
       |  SELECT text FROM corpus GROUP BY text HAVING count(*) >= 2)),
       |pii AS (SELECT doc_id FROM (
       |  SELECT doc_id,
       |    len(regexp_extract_all(text, '$em'))
       |    + len(regexp_extract_all(se, '$idp'))
       |    + len(regexp_extract_all(si, '$lg'))
       |    + len(regexp_extract_all(sl, '$ph')) AS n
       |  FROM (SELECT doc_id, text, se, si,
       |      regexp_replace(si, '$lg', '<LONGID>', 'g') AS sl
       |    FROM (SELECT doc_id, text, se,
       |        regexp_replace(se, '$idp', '<ID>', 'g') AS si
       |      FROM (SELECT doc_id, text,
       |          regexp_replace(text, '$em', '<EMAIL>', 'g') AS se
       |        FROM corpus)))) WHERE n > 0),
       |ew AS (SELECT string_split_regex(regexp_replace(
       |    substr(text, 31, 200), '^\\s+|\\s+$$', '', 'g'), '\\s+') AS w
       |  FROM documents WHERE doc_id = 1),
       |eg AS (SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS g
       |  FROM (SELECT w, unnest(generate_series(1, len(w) - 12)) AS i
       |        FROM ew WHERE len(w) >= 13)),
       |${wordGramCtes("t", src = "corpus", key = Some("doc_id"))},
       |contam AS (SELECT DISTINCT t.doc_id FROM tg t JOIN eg e ON e.g = t.g),
       |$winnowSelCtes,
       |mined AS (SELECT fp FROM csel GROUP BY fp HAVING count(*) >= 25),
       |boiler AS (SELECT DISTINCT doc_id FROM csel JOIN mined USING (fp))
       |SELECT c.source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(t.tk) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN dp.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS dup_docs,
       |  CAST(sum(CASE WHEN pi.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS pii_docs,
       |  CAST(sum(CASE WHEN co.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS contam_docs,
       |  CAST(sum(CASE WHEN bo.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS boiler_docs,
       |  CAST(sum(CASE WHEN c.lang <> 'en' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS nonen_docs,
       |  CAST((sum(CASE WHEN dp.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000) // count(*) AS BIGINT) AS dup_micro
       |FROM corpus c""".stripMargin
  }

  /** q230's oracle: the planted topic shift, joint vocab, add-one
    * smoothing and micro-nat KL contributions (shared by the streaming
    * form, q248). */
  private def driftKlOracle: String =
    """WITH oldd AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
      |newd AS (SELECT CASE WHEN doc_id % 10 = 1
      |    THEN text || ' crypto blockchain token ledger staking validator'
      |    ELSE text END AS text
      |  FROM documents WHERE doc_id % 2 = 1),
      |oc AS (SELECT term, CAST(count(*) AS BIGINT) AS co FROM (
      |    SELECT unnest(string_split_regex(lower(regexp_replace(text,
      |      '^\s+|\s+$', '', 'g')), '\s+')) AS term FROM oldd)
      |  WHERE length(term) > 0 GROUP BY 1),
      |nc AS (SELECT term, CAST(count(*) AS BIGINT) AS cn FROM (
      |    SELECT unnest(string_split_regex(lower(regexp_replace(text,
      |      '^\s+|\s+$', '', 'g')), '\s+')) AS term FROM newd)
      |  WHERE length(term) > 0 GROUP BY 1),
      |v AS (SELECT coalesce(o.term, n.term) AS term,
      |    coalesce(o.co, 0) AS co, coalesce(n.cn, 0) AS cn
      |  FROM oc o FULL OUTER JOIN nc n ON n.term = o.term),
      |tot AS (SELECT (SELECT sum(co) FROM v) AS tol,
      |    (SELECT sum(cn) FROM v) AS tnw,
      |    (SELECT CAST(count(*) AS BIGINT) FROM v) AS nv),
      |contrib AS (SELECT term, co, cn,
      |    CAST(round(ln(CAST((cn + 1) * (tol + nv) AS DOUBLE)
      |        / CAST((co + 1) * (tnw + nv) AS DOUBLE))
      |      * (cn + 1) * 1000000.0 / (tnw + nv)) AS BIGINT)
      |      AS contrib_micro
      |  FROM v, tot),
      |klt AS (SELECT CAST(sum(contrib_micro) AS BIGINT)
      |    AS kl_total_micro FROM contrib)
      |SELECT c.term, c.co AS c_old, c.cn AS c_new, c.contrib_micro,
      |  klt.kl_total_micro, tot.nv AS n_vocab
      |FROM contrib c, klt, tot
      |ORDER BY abs(c.contrib_micro) DESC, c.term
      |LIMIT 20""".stripMargin

  private def temperatureWeightCtes: String =
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split_regex(
      |      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |lw AS (SELECT source, n_docs, n_tokens,
      |    (CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) * 7) // 10
      |      AS logw_micro
      |  FROM s),
      |mx AS (SELECT max(logw_micro) AS m FROM lw),
      |wm AS (SELECT source, n_docs, n_tokens, logw_micro,
      |    CAST(round(exp(CAST(logw_micro - (SELECT m FROM mx) AS DOUBLE)
      |      / 1000000) * 1000000) AS BIGINT) AS weight_micro
      |  FROM lw),
      |tw AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS t FROM wm)""".stripMargin

  private def perplexityTierCtes: String =
    s"""WITH toks AS (
       |  SELECT doc_id, t FROM (
       |    SELECT doc_id, unnest(string_split_regex(
       |      lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS t
       |    FROM documents)
       |  WHERE length(t) > 0),
       |counts AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
       |tot AS (SELECT sum(c) AS n FROM counts),
       |surp AS (
       |  SELECT t, CAST(round(-ln(CAST(c AS DOUBLE) / n) * 1000000) AS BIGINT) AS s
       |  FROM counts, tot),
       |ds AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    round(CAST(sum(s) AS DOUBLE) / count(*) / 1000000, 4) AS m
       |  FROM toks JOIN surp USING (t) GROUP BY doc_id),
       |${RelationalQueries5.mix64Stages("ds", Seq("doc_id", "m"),
            "CAST(doc_id AS HUGEINT)", prefix = "t")},
       |tsamp AS (SELECT doc_id, m FROM tmixed ORDER BY vu LIMIT 256),
       |tsorted AS (SELECT m, doc_id AS i,
       |    row_number() OVER (ORDER BY m, doc_id) AS rn FROM tsamp),
       |tb1 AS (SELECT m, i FROM tsorted
       |  WHERE rn = (SELECT count(*) FROM tsamp) // 3 + 1),
       |tb2 AS (SELECT m, i FROM tsorted
       |  WHERE rn = 2 * (SELECT count(*) FROM tsamp) // 3 + 1),
       |tiers AS (
       |  SELECT d.doc_id, d.n_tokens, d.m,
       |    CAST(CASE
       |      WHEN d.m < tb1.m OR (d.m = tb1.m AND d.doc_id < tb1.i) THEN 1
       |      WHEN d.m < tb2.m OR (d.m = tb2.m AND d.doc_id < tb2.i) THEN 2
       |      ELSE 3 END AS BIGINT) AS tier
       |  FROM ds d, tb1, tb2)""".stripMargin

  /** QualityModel fit + score replay CTEs over a corpus CTE (must
    * yield (doc_id, text)): rule labels `lab(doc_id, y)`, count-sketch
    * probes, dense vectors, the capped per-class sample (`cappd` —
    * mix64 rank ≤ SampleCap WITHIN each class, replaying the bounded
    * bottom-k the operator collects), the ENTIRE sequential perceptron
    * fit as ONE list_reduce over the epoch-repeated id-ordered sample
    * list (the accumulator rides in the same struct shape as the
    * sample elements — list_reduce requires accumulator type ==
    * element type), ending in `sc(doc_id, z)` — every doc's integer
    * logit. Shared verbatim by q185 and the q192 learned-gate funnel.
    * Integer bounds are tiny: weights are sums of token counts
    * (≤ thousands), scores ≤ ~1e7 — Long-safe by orders of
    * magnitude. */
  private[graft] def classifierCtes(corpusCte: String, p: String = ""): String = {
    import graft.operators.QualityModel.{Dim, Epochs, Margin, NumBuckets, SampleCap}
    def fold(colExpr: String) =
      s"""list_reduce(
         |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
         |      list_transform(string_split($colExpr, ''), c -> CAST(unicode(c) AS HUGEINT))),
         |    (h, b) -> (((h & 18446744073709551360) +
         |      CAST(xor(CAST(h & 255 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
         |      * 1099511628211) & 18446744073709551615)""".stripMargin
    s"""${TextQueries.gopherValsSql(corpusCte, p)},
       |${p}lab AS (SELECT v.doc_id,
       |  CAST(CASE WHEN ${TextQueries.gopherKeepSql} THEN 1 ELSE 0 END AS BIGINT) AS y
       |  FROM ${p}vals v),
       |${p}ltoks AS (SELECT doc_id, tok FROM (
       |  SELECT doc_id, unnest(string_split_regex(
       |    regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
       |  FROM $corpusCte)
       |  WHERE length(tok) > 0),
       |${p}probes AS (
       |  SELECT doc_id, CAST(${fold("tok")} % $NumBuckets AS INT) AS b FROM ${p}ltoks
       |  UNION ALL
       |  SELECT doc_id, $NumBuckets + CAST(${fold("reverse(tok)")} % $NumBuckets AS INT) AS b
       |  FROM ${p}ltoks),
       |${p}fx AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS x FROM ${p}probes GROUP BY 1, 2),
       |${p}dense AS (
       |  SELECT c.doc_id, list(CASE WHEN g.b = ${Dim - 1} THEN 1
       |      ELSE coalesce(fx.x, 0) END ORDER BY g.b) AS xs
       |  FROM $corpusCte c CROSS JOIN generate_series(0, ${Dim - 1}) g(b)
       |  LEFT JOIN ${p}fx fx ON fx.doc_id = c.doc_id AND fx.b = g.b
       |  GROUP BY c.doc_id),
       |${RelationalQueries5.mix64Stages(s"${p}lab", Seq("doc_id", "y"),
            "CAST(doc_id AS HUGEINT)", prefix = s"${p}q")},
       |${p}cappd AS (SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY y ORDER BY vu) AS rk
       |    FROM ${p}qmixed) WHERE rk <= $SampleCap),
       |${p}sampl AS (
       |  SELECT list(STRUCT_PACK(y := CAST(l.y AS BIGINT), xs := d.xs)
       |    ORDER BY l.doc_id) AS ds
       |  FROM ${p}lab l JOIN ${p}dense d USING (doc_id)
       |  JOIN ${p}cappd USING (doc_id)),
       |${p}ep AS (SELECT list_prepend(
       |    STRUCT_PACK(y := CAST(0 AS BIGINT),
       |      xs := list_transform(generate_series(1, $Dim), i -> CAST(0 AS BIGINT))),
       |    flatten(list_transform(generate_series(1, $Epochs), e -> ds))) AS seq
       |  FROM ${p}sampl),
       |${p}wfit AS (
       |  SELECT list_reduce(seq, (acc, d) -> STRUCT_PACK(y := CAST(0 AS BIGINT),
       |      xs := CASE WHEN (2*d.y - 1) *
       |          list_sum(list_transform(generate_series(1, $Dim), i -> acc.xs[i] * d.xs[i])) <= $Margin
       |        THEN list_transform(generate_series(1, $Dim), i -> acc.xs[i] + (2*d.y - 1) * d.xs[i])
       |        ELSE acc.xs END)).xs AS w
       |  FROM ${p}ep),
       |${p}sc AS (
       |  SELECT d.doc_id,
       |    CAST(list_sum(list_transform(generate_series(1, $Dim), i -> w.w[i] * d.xs[i])) AS BIGINT) AS z
       |  FROM ${p}dense d CROSS JOIN ${p}wfit w)""".stripMargin
  }

  /** q185 oracle: [[classifierCtes]] over documents ∪ planted, plus
    * the per-doc verdict projection (in_sample re-reads the capped
    * per-class sample CTE). */
  private def q185Oracle: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL ${TextQueries.qualityPlantedSql}),
       |${classifierCtes("corpus")}
       |SELECT l.doc_id, l.y AS label, sc.z AS score,
       |  CAST(CASE WHEN sc.z > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
       |  CAST(CASE WHEN l.doc_id IN (SELECT doc_id FROM cappd)
       |    THEN 1 ELSE 0 END AS BIGINT) AS in_sample
       |FROM lab l JOIN sc USING (doc_id)""".stripMargin

  /** q199 oracle: the full 3-round DoReMi replay (see the registration
    * comment). Each round k reads weights w{k-1}, scores every token
    * under the weighted mixture, aggregates per-domain loss, and
    * produces w{k} via the clamped truncating-division update (DuckDB
    * `//` == Scala `/` toward zero, verified on negatives). */
  private def q199Oracle: String = {
    val rounds = (1 to 3).map { k =>
      s"""d$k AS (SELECT CAST(sum(w.w * g.n) AS BIGINT) AS d
         |  FROM w${k - 1} w JOIN ng g USING (g)),
         |sm$k AS (SELECT c.tok,
         |    CAST(round(-ln(CAST(sum(w.w * c.c) AS DOUBLE)
         |      / CAST((SELECT d FROM d$k) AS DOUBLE)) * 1000000) AS BIGINT) AS s
         |  FROM counts c JOIN w${k - 1} w USING (g) GROUP BY c.tok),
         |mx$k AS (SELECT c.g, CAST(sum(c.c * s.s) AS BIGINT) AS smix
         |  FROM counts c JOIN sm$k s USING (tok) GROUP BY c.g),
         |w$k AS (SELECT w.g,
         |    w.w * (1000000 + greatest(-900000, least(900000,
         |      (m.smix - r.sref) // g.n))) // 1000000 AS w
         |  FROM w${k - 1} w JOIN mx$k m USING (g)
         |  JOIN refs r USING (g) JOIN ng g USING (g))""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT lang AS g, tok FROM (
       |    SELECT lang, unnest(string_split_regex(
       |      regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
       |    FROM documents)
       |  WHERE length(tok) > 0),
       |counts AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY 1, 2),
       |ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY g),
       |ndocs AS (SELECT lang AS g, count(*) AS n_docs FROM documents GROUP BY 1),
       |sref AS (SELECT c.g, c.tok, c.c,
       |    CAST(round(-ln(CAST(c.c AS DOUBLE) / CAST(g.n AS DOUBLE)) * 1000000) AS BIGINT) AS s
       |  FROM counts c JOIN ng g USING (g)),
       |refs AS (SELECT g, CAST(sum(c * s) AS BIGINT) AS sref FROM sref GROUP BY g),
       |w0 AS (SELECT g, CAST(1000000 AS BIGINT) AS w FROM ng),
       |$rounds
       |SELECT g AS lang, d.n_docs, g2.n AS n_tokens,
       |  round(CAST(r.sref AS DOUBLE) / g2.n / 1000000, 4) AS ref_loss,
       |  round(CAST(m.smix AS DOUBLE) / g2.n / 1000000, 4) AS mix_loss,
       |  w3.w AS weight_micro,
       |  round(CAST(w3.w AS DOUBLE) / (SELECT sum(w) FROM w3), 6) AS weight_share
       |FROM w3 JOIN ng g2 USING (g) JOIN refs r USING (g)
       |  JOIN mx3 m USING (g) JOIN ndocs d USING (g)""".stripMargin
  }

  /** The q139 oracle: the identical lexer regex, the identical integer
    * chunk-count arithmetic (DuckDB `//` floors == Spark DIV on the
    * nonnegative domain), per-chunk token counts via least(), and the
    * 1-based boundary indices the Spark `slice`/`element_at` pair
    * produces. */
  private def q139Oracle(chunk: Int, overlap: Int): String = {
    val stride = chunk - overlap
    s"""WITH toks AS (SELECT doc_id,
       |    regexp_extract_all(text, '\\w+|[^\\w\\s]') AS t FROM documents),
       |st AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
       |nc AS (SELECT doc_id, t, n,
       |  CASE WHEN n <= $chunk THEN 1
       |    ELSE (n - $chunk + ${stride - 1}) // $stride + 1 END AS n_chunks
       |  FROM st),
       |ch AS (SELECT doc_id, t, n,
       |  unnest(generate_series(0, n_chunks - 1)) AS ci FROM nc),
       |per AS (SELECT doc_id, ci,
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
       |FROM per GROUP BY 1""".stripMargin
  }

  /** The q118/q128 graph: bidirectional customer↔supplier interaction
    * edges (supplier ids offset into their own namespace). */
  private def customerSupplierEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val l = Tables.load(spark, dir, "lineitem")
    // the namespace-offset disjointness below is an ASSUMPTION about the
    // data (custkeys stay under the 10M supplier offset) — assert it for
    // the price of a one-column scan, because a violation would not fail:
    // it would silently keep duplicate edges the oracle's UNION dedupes,
    // surfacing as an unexplained hash mismatch (or skewed rank mass).
    // The scan is memoized: once per (dir, column) per JVM, not once per
    // query run (q118 AND q128 both come through here).
    val maxCust = Tables.memoizedMax(o, "o_custkey", s"$dir/orders")
    require(maxCust < 10000000L,
      s"customer keys reach $maxCust >= the 10M supplier namespace offset — raise the offset")
    val fwd = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(10000000L)).as("dst"))
      .distinct()
    // plain union, NO second distinct: fwd's src space (custkeys, < 10M —
    // asserted above) and the reversed copy's src space (suppkeys + 10M)
    // are disjoint by the namespace offset, so the two distinct sets
    // cannot overlap — a dedup here would shuffle the full doubled edge
    // set for nothing (the oracle's UNION dedupes, but over the same
    // provably-disjoint sets, so the results are identical)
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The q118/q128 oracle: the ENTIRE fixed-point PageRank chain
    * unrolled as SQL CTEs — same integer micro-unit arithmetic as
    * Graph.pageRank (DuckDB `//` floors, Spark DIV truncates: identical
    * on the all-positive domain), one (contrib, rank) CTE pair per
    * iteration. `seedsSql` (a `node`-column SELECT) switches to the
    * personalized form: seed-only initialization and base term. */
  private def pageRankOracle(iters: Int, seedsSql: Option[String]): String = {
    val seedCtes = seedsSql match {
      case None =>
        """sn AS (SELECT node, TRUE AS seed FROM nodes)"""
      case Some(sql) =>
        s"""seeds AS ($sql),
           |sn AS (SELECT n.node, (s.node IS NOT NULL) AS seed
           |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node)""".stripMargin
    }
    val head =
      s"""WITH fwd AS (
         |  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |$seedCtes,
         |r0 AS (SELECT node, CAST(CASE WHEN seed THEN 1000000 ELSE 0 END AS BIGINT) AS pr
         |  FROM sn)""".stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |c$i AS (SELECT e.dst AS node, sum(r.pr // d.outdeg) AS recv
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
         |  GROUP BY 1),
         |r$i AS (SELECT n.node,
         |    (CASE WHEN n.seed THEN 150000 ELSE 0 END) + (85 * coalesce(c.recv, 0)) // 100 AS pr
         |  FROM sn n LEFT JOIN c$i c ON n.node = c.node)""".stripMargin
    }.mkString
    head + its +
      s"\nSELECT node, CAST(pr AS BIGINT) AS pr FROM r$iters ORDER BY pr DESC, node LIMIT 20"
  }
}
