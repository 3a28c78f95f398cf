package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{AudioDedup, ImageDedup, Multimodal, Similarity, VideoDedup}

/** Similarity-search + multimodal operators over `embeddings`/`documents`
  * (LLM-data-pipeline surface). Brute-force cosine top-k is the
  * oracle-checked baseline; SRP-LSH and IVF are the scale paths
  * (recall-tested against brute force in SimilaritySpec).
  */
object SimilarityQueries {
  import Registry.Q

  /** Delete-and-recreate a per-run scratch dir (stream checkpoints /
    * versioned artifact roots that must NOT survive a run — a persisted
    * checkpoint would mark the feed consumed and serve last run's
    * artifact). Same contract as TextQueries' helper. */
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

  /** The q41 oracle's literal Rademacher matrix: sign(plane, dim) from the
    * SAME splitmix64 derivation as VectorFunctions.srpSignatureKernel
    * (±1.0 exactly representable — multiplying by it reproduces the
    * kernel's add/subtract bit-for-bit). */
  private[graft] def srpSignRows(planes: Int, dims: Int, seed: Long): String =
    (0 until planes).map { p =>
      val sv = (0 until dims).map { i =>
        val h = VectorFunctions.mix64(seed ^ VectorFunctions.mix64(p.toLong << 32 | i.toLong))
        if ((h & 1L) == 0L) "1.0" else "-1.0"
      }.mkString("[", ",", "]")
      s"($p, $sv)"
    }.mkString(",")

  /** SRP signatures of every embedding: the Rademacher planes `signs`,
    * `normed(id, v, vnorm)` (zero vectors dropped), the per-plane
    * projections `accs(id, plane, acc)` and `sigs(id, sig)`. */
  private def srpSigCtes(planes: Int, seed: Long): String =
    s"""signs AS (
       |  SELECT plane, CAST(sv AS DOUBLE[]) AS sv
       |  FROM (VALUES ${srpSignRows(planes, dims = 64, seed)}) s(plane, sv)),
       |base AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |normed AS (
       |  SELECT id, v, sqrt(list_dot_product(v, v)) AS vnorm FROM base
       |  WHERE sqrt(list_dot_product(v, v)) > 0),
       |accs AS (
       |  SELECT id, plane, list_dot_product(v, sv) AS acc
       |  FROM normed CROSS JOIN signs),
       |sigs AS (
       |  SELECT id,
       |    sum(CASE WHEN acc >= 0 THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS sig
       |  FROM accs GROUP BY id)""".stripMargin

  /** q267's second stage: the exact cosine of each `short(qid, nid)`
    * candidate against the query `q` and `rr(qid, nid, sim, rank)`. */
  private def exactRerankCtes: String =
    """exact AS (
      |  SELECT sh.qid, sh.nid,
      |    list_dot_product(q.qv, CAST(p.v AS DOUBLE[])) /
      |      (sqrt(list_dot_product(q.qv, q.qv)) *
      |       sqrt(list_dot_product(CAST(p.v AS DOUBLE[]), CAST(p.v AS DOUBLE[])))) AS sim
      |  FROM short sh JOIN q ON q.qid = sh.qid
      |  JOIN pts p ON p.vid = sh.nid),
      |rr AS (
      |  SELECT qid, nid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      |  FROM exact)""".stripMargin

  /** The q41 SRP-LSH WITH-chain up to `ranked`, no final SELECT — shared
    * by q41 (top-k agg) and q114 (recall@k vs the brute truth, reusing
    * the chain's `normed` CTE). The Rademacher matrix rides as literals
    * from the SAME splitmix64 derivation as the kernel. */
  private def q41OracleChain(planes: Int, bandBits: Int, seed: Long): String = {
    val nBands = planes / bandBits
    val bandVals = (0 until nBands).map(b => s"($b)").mkString(",")
    s"""WITH ${srpSigCtes(planes, seed)},
       |banded AS (
       |  SELECT id, band, (sig >> (band * $bandBits)) & ${(1 << bandBits) - 1} AS bucket
       |  FROM sigs CROSS JOIN (VALUES $bandVals) b(band)),
       |cand AS (
       |  SELECT DISTINCT q.id AS qid, c.id AS nid
       |  FROM banded q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE q.id < 20 AND q.id <> c.id),
       |pairs AS (
       |  SELECT qid, nid,
       |    list_dot_product(qn.v, cn.v) / (qn.vnorm * cn.vnorm) AS sim
       |  FROM cand JOIN normed qn ON qn.id = qid JOIN normed cn ON cn.id = nid),
       |ranked AS (
       |  SELECT qid, nid, ROUND(sim, 6) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |  FROM pairs)""".stripMargin
  }

  /** The multi-probe SRP WITH-chain: q41's chain plus the query-side
    * probe set — per query the `nProbes` planes with the smallest
    * |projection| (ties to the lower plane; margins are bit-exact
    * across engines, the q40/q41-proven accumulation) contribute their
    * single-bit-flip buckets (flip = sig + 2^p − 2·(sig & 2^p), the
    * single-bit-safe arithmetic XOR). Emits BOTH `rankedB` (base
    * buckets only — srpTopK's candidates) and `rankedM` (multi-probe)
    * so q273 gates the ranking and q274 the recall lift. */
  private def q273OracleChain(planes: Int, bandBits: Int, seed: Long,
      nProbes: Int): String = {
    val nBands = planes / bandBits
    val bandVals = (0 until nBands).map(b => s"($b)").mkString(",")
    val mask = (1 << bandBits) - 1
    s"""WITH ${srpSigCtes(planes, seed)},
       |banded AS (
       |  SELECT id, band, (sig >> (band * $bandBits)) & $mask AS bucket
       |  FROM sigs CROSS JOIN (VALUES $bandVals) b(band)),
       |qflip AS (SELECT id, plane FROM (
       |  SELECT id, plane,
       |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY abs(acc), plane) AS r
       |  FROM accs WHERE id < 20) WHERE r <= $nProbes),
       |qprobe AS (
       |  SELECT id, band, bucket FROM banded WHERE id < 20
       |  UNION ALL
       |  SELECT f.id, f.plane // $bandBits AS band,
       |    ((s.sig + (CAST(1 AS BIGINT) << f.plane)
       |        - 2 * (s.sig & (CAST(1 AS BIGINT) << f.plane)))
       |      >> ((f.plane // $bandBits) * $bandBits)) & $mask AS bucket
       |  FROM qflip f JOIN sigs s ON s.id = f.id),
       |candM AS (
       |  SELECT DISTINCT q.id AS qid, c.id AS nid
       |  FROM qprobe q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE q.id <> c.id),
       |candB AS (
       |  SELECT DISTINCT q.id AS qid, c.id AS nid
       |  FROM banded q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE q.id < 20 AND q.id <> c.id),
       |pairsM AS (
       |  SELECT qid, nid,
       |    list_dot_product(qn.v, cn.v) / (qn.vnorm * cn.vnorm) AS sim
       |  FROM candM JOIN normed qn ON qn.id = qid JOIN normed cn ON cn.id = nid),
       |rankedM AS (
       |  SELECT qid, nid, ROUND(sim, 6) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |  FROM pairsM),
       |pairsB AS (
       |  SELECT qid, nid,
       |    list_dot_product(qn.v, cn.v) / (qn.vnorm * cn.vnorm) AS sim
       |  FROM candB JOIN normed qn ON qn.id = qid JOIN normed cn ON cn.id = nid),
       |rankedB AS (
       |  SELECT qid, nid, ROUND(sim, 6) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |  FROM pairsB)""".stripMargin
  }

  /** q114's oracle: the q41 SRP chain + brute truth over `normed` +
    * recall@k — the third ANN family's quality number under the gate
    * (SRP misses whatever never shares a band bucket; LOW recall at
    * 16 planes / 4-bit bands on random data is the honest answer, and
    * the gate pins it exactly). */
  private def q114Oracle(planes: Int, bandBits: Int, seed: Long,
      k: Int): String =
    q41OracleChain(planes, bandBits, seed) +
      s""",
         |approx AS (SELECT qid, nid FROM ranked WHERE rank <= $k),
         |btruth AS (
         |  SELECT qid, nid FROM (
         |    SELECT qn.id AS qid, cn.id AS nid,
         |      ROW_NUMBER() OVER (PARTITION BY qn.id ORDER BY
         |        list_dot_product(qn.v, cn.v) / (qn.vnorm * cn.vnorm) DESC,
         |        cn.id) AS rk
         |    FROM normed qn JOIN normed cn ON qn.id < 20 AND cn.id <> qn.id)
         |  WHERE rk <= $k)
         |SELECT t.qid, count(*) AS n_true, count(a.nid) AS n_hit,
         |  round(CAST(count(a.nid) AS DOUBLE) / count(*), 4) AS recall
         |FROM btruth t LEFT JOIN approx a ON a.qid = t.qid AND a.nid = t.nid
         |GROUP BY t.qid""".stripMargin

  /** q42's oracle: the ENTIRE IVF index build replayed in SQL — sorted-
    * Forgy seeding, `maxIter` unrolled Lloyd rounds (assignment =
    * ascending-fold squared distance with ties to the lowest centroid
    * index; update = members folded in vec_id order, mean = sum/count,
    * empty cluster keeps its centroid), then probe ranking and exact
    * rerank. Works because ivfTopK's fit is fitSortedForgy: no RNG,
    * double precision throughout, and Scala's early convergence exit is
    * parity-safe (a converged round is a no-op, so the fixed unroll
    * lands on the same fixed point). MATERIALIZED pins each stage — the
    * chained-CTE re-evaluation quirk otherwise re-runs the whole prefix
    * per round.
    *
    * PRECONDITION (here and in q46Oracle): the corpus must be under
    * ivfTopK's maxTrainRows cap (100k) so the hash-sampling filter is a
    * no-op — the oracle trains on ALL rows, and Spark's murmur3 sample
    * selection is not SQL-replayable. Holds for every gate SF; a larger
    * corpus would mismatch with the CAP as the cause, not a bug. */
  private def q42Oracle(nCells: Int, nprobe: Int, k: Int,
      maxIter: Int): String =
    q42OracleChain(nCells, nprobe, maxIter) +
      s"""
         |SELECT qid, count(*) AS n_results, round(max(sim), 6) AS best_sim
         |FROM ranked WHERE rk <= $k GROUP BY qid""".stripMargin

  /** The q42 WITH-chain up to `ranked` (per-candidate rk per query), no
    * final SELECT — shared by q42 (top-k agg) and q111 (recall@k vs the
    * brute-force truth, which reuses the chain's `pts`/`q` CTEs). */
  /** The k-means fit + final-assignment CTE prefix (pts → cent0 →
    * unrolled Lloyd stages → afinal), parameterized over the pts source
    * so the doubled-corpus form (q162 semantic dedup) shares the exact
    * kernel the q42/q111 chain gates. `ptsSql` must yield (vid, v, nrm)
    * with zero-norm rows already excluded. */
  /** `pfx` renames the whole CTE chain (`{pfx}pts` … `{pfx}afinal` /
    * `{pfx}finalcent`) and suppresses the leading WITH, so one oracle
    * can replay TWO independent fits (the q308 refit cycle trains the
    * old fit on the epoch and the new fit on epoch ∪ drift). */
  private def kmeansAssignCtes(ptsSql: String, nCells: Int,
      maxIter: Int, pfx: String = ""): StringBuilder = {
    val pts = s"${pfx}pts"
    val sb = new StringBuilder(
      s"""${if (pfx.isEmpty) "WITH " else ""}$pts AS MATERIALIZED (
         |  $ptsSql),
         |${pfx}cent0 AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vid) - 1 AS INT) AS cidx, CAST(v AS DOUBLE[]) AS c
         |  FROM (SELECT vid, v FROM $pts ORDER BY vid LIMIT $nCells))""".stripMargin)
    var prev = s"${pfx}cent0"
    for (it <- 0 until maxIter) {
      sb.append(coarseAssign(pts, prev, s"${pfx}a$it", lam = "s"))
      sb.append(coarseUpdate(64, pts, s"${pfx}a$it", prev,
        s"${pfx}cent${it + 1}", alias = "m"))
      prev = s"${pfx}cent${it + 1}"
    }
    sb.append(coarseAssign(pts, prev, s"${pfx}afinal", lam = "s"))
    sb.append(s",\n${pfx}finalcent AS (SELECT * FROM $prev)")
    sb
  }

  /** The single-corpus pts source the q42/q111 chain uses. */
  private val defaultPtsSql: String =
    """SELECT vec_id AS vid, embedding AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings
       |  WHERE sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0""".stripMargin

  private def q42OracleChain(nCells: Int, nprobe: Int,
      maxIter: Int): String = {
    val sb = kmeansAssignCtes(defaultPtsSql, nCells, maxIter)
    val prev = "finalcent"
    sb.append(
      s""",
         |q AS (SELECT vid AS qid, CAST(v AS DOUBLE[]) AS qv, nrm AS qnorm FROM pts WHERE vid < 20),
         |probes AS (
         |  SELECT qid, qv, qnorm, cidx AS cell FROM (
         |    SELECT q.qid, q.qv, q.qnorm, c.cidx,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qv, c.c) /
         |        (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.c, c.c))) DESC,
         |        c.cidx) AS crk
         |    FROM q CROSS JOIN $prev c) WHERE crk <= $nprobe),
         |pairs AS (
         |  SELECT pr.qid, a.vid AS nid,
         |    list_dot_product(pr.qv, CAST(p.v AS DOUBLE[])) / (pr.qnorm * p.nrm) AS sim
         |  FROM probes pr JOIN afinal a ON a.cell = pr.cell
         |  JOIN pts p ON p.vid = a.vid
         |  WHERE a.vid <> pr.qid),
         |ranked AS (
         |  SELECT qid, nid, round(sim, 6) AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM pairs)""".stripMargin)
    sb.toString
  }

  /** q162's oracle: semantic dedup fully replayed — the SAME unrolled
    * Lloyd kernel as q42 but over the DOUBLED corpus (embeddings ∪ exact
    * copies at +100000, so every vector has a guaranteed semantic dup in
    * its own cell), then intra-cell pairs at cosine ≥ τ and the
    * keep-lowest-id verdicts. Same maxTrainRows precondition as
    * q42Oracle: the doubled corpus (≤4k rows at sf0.1) is far under the
    * 100k cap, so the hash-sample filter is a no-op and the oracle
    * trains on all rows. */
  private def q162Oracle(threshold: Double, nCells: Int,
      maxIter: Int): String = {
    val doubledPts =
      """SELECT vid, v, nrm FROM (
         |    SELECT vid, v,
         |      sqrt(list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[]))) AS nrm
         |    FROM (
         |      SELECT vec_id AS vid, embedding AS v FROM embeddings
         |      UNION ALL SELECT vec_id + 100000, embedding FROM embeddings))
         |  WHERE nrm > 0""".stripMargin
    kmeansAssignCtes(doubledPts, nCells, maxIter).append(
      s""",
         |dpairs AS MATERIALIZED (
         |  SELECT x.idA, x.idB FROM (
         |    SELECT a1.vid AS idA, a2.vid AS idB,
         |      list_dot_product(CAST(p1.v AS DOUBLE[]), CAST(p2.v AS DOUBLE[]))
         |        / (p1.nrm * p2.nrm) AS sim
         |    FROM afinal a1 JOIN afinal a2 ON a1.cell = a2.cell AND a1.vid < a2.vid
         |    JOIN pts p1 ON p1.vid = a1.vid JOIN pts p2 ON p2.vid = a2.vid) x
         |  WHERE x.sim >= $threshold),
         |ndups AS (
         |  SELECT vec_id, count(*) AS n_dups FROM (
         |    SELECT idA AS vec_id FROM dpairs
         |    UNION ALL SELECT idB FROM dpairs) GROUP BY 1)
         |SELECT a.vid AS vec_id, a.cell,
         |  CAST(coalesce(n.n_dups, 0) AS BIGINT) AS n_dups,
         |  NOT EXISTS (SELECT 1 FROM dpairs d WHERE d.idB = a.vid) AS keep
         |FROM afinal a LEFT JOIN ndups n ON n.vec_id = a.vid""".stripMargin)
      .toString
  }

  /** q170's oracle: the q42 fit/assign chain over the EXISTING corpus,
    * then the incoming batch (exact copies at +200000, first-component-
    * flipped variants at +300000) assigned to the fitted cells with the
    * same rk=1 selection, intra-cell cosine verdicts at ≥ threshold,
    * distinct-match counts. Float-negate-then-widen equals
    * widen-then-negate, so building the flipped vector in DOUBLE here
    * matches the Spark float construction exactly. */
  private def q170Oracle(threshold: Double, nCells: Int,
      maxIter: Int): String = {
    val d2inc =
      "list_reduce(list_prepend(0.0, list_transform(list_zip(i.iv, c.c), " +
        "s -> (CAST(s[1] AS DOUBLE) - s[2]) * (CAST(s[1] AS DOUBLE) - s[2]))), (a,b) -> a + b)"
    kmeansAssignCtes(defaultPtsSql, nCells, maxIter).append(
      s""",
         |incraw AS (
         |  SELECT vec_id + 200000 AS iid, CAST(embedding AS DOUBLE[]) AS iv
         |  FROM embeddings WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id + 300000, list_transform(generate_series(1, 64),
         |    i -> CASE WHEN i = 1 THEN -CAST(embedding[1] AS DOUBLE)
         |      ELSE CAST(embedding[i] AS DOUBLE) END)
         |  FROM embeddings WHERE vec_id % 3 = 1),
         |inc AS (
         |  SELECT iid, iv, sqrt(list_dot_product(iv, iv)) AS inrm FROM incraw
         |  WHERE sqrt(list_dot_product(iv, iv)) > 0),
         |incassign AS (
         |  SELECT iid, iv, inrm, cidx AS cell FROM (
         |    SELECT i.iid, i.iv, i.inrm, c.cidx,
         |      ROW_NUMBER() OVER (PARTITION BY i.iid ORDER BY $d2inc, c.cidx) AS rk
         |    FROM inc i CROSS JOIN finalcent c) WHERE rk = 1),
         |pairs170 AS (
         |  SELECT ia.iid, a.vid,
         |    list_dot_product(ia.iv, CAST(p.v AS DOUBLE[])) / (ia.inrm * p.nrm) AS sim
         |  FROM incassign ia JOIN afinal a ON a.cell = ia.cell
         |  JOIN pts p ON p.vid = a.vid),
         |cnt AS (SELECT iid, count(DISTINCT vid) AS n FROM pairs170
         |  WHERE sim >= $threshold GROUP BY 1),
         |incids AS (
         |  SELECT vec_id + 200000 AS iid FROM embeddings WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id + 300000 FROM embeddings WHERE vec_id % 3 = 1)
         |SELECT i.iid AS in_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_sem_dups
         |FROM incids i LEFT JOIN cnt c ON c.iid = i.iid""".stripMargin)
      .toString
  }

  /** q200's oracle: the q170 chain (fit on the training corpus, assign
    * the planted eval set with the same rk=1 selection, intra-cell
    * cosines) extended with a third regime (NEGATED vectors at
    * +400000 — float-negate-then-widen equals widen-then-negate, like
    * the flip) and the evidence columns: distinct sources at ≥
    * threshold, best similarity among them (−2 sentinel when clean),
    * and the binary verdict. */
  private def q200Oracle(threshold: Double, nCells: Int,
      maxIter: Int): String = {
    val d2inc =
      "list_reduce(list_prepend(0.0, list_transform(list_zip(i.iv, c.c), " +
        "s -> (CAST(s[1] AS DOUBLE) - s[2]) * (CAST(s[1] AS DOUBLE) - s[2]))), (a,b) -> a + b)"
    kmeansAssignCtes(defaultPtsSql, nCells, maxIter).append(
      s""",
         |incraw AS (
         |  SELECT vec_id + 200000 AS iid, CAST(embedding AS DOUBLE[]) AS iv
         |  FROM embeddings WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id + 300000, list_transform(generate_series(1, 64),
         |    i -> CASE WHEN i = 1 THEN -CAST(embedding[1] AS DOUBLE)
         |      ELSE CAST(embedding[i] AS DOUBLE) END)
         |  FROM embeddings WHERE vec_id % 3 = 1
         |  UNION ALL
         |  SELECT vec_id + 400000, list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
         |  FROM embeddings WHERE vec_id % 3 = 2),
         |inc AS (
         |  SELECT iid, iv, sqrt(list_dot_product(iv, iv)) AS inrm FROM incraw
         |  WHERE sqrt(list_dot_product(iv, iv)) > 0),
         |incassign AS (
         |  SELECT iid, iv, inrm, cidx AS cell FROM (
         |    SELECT i.iid, i.iv, i.inrm, c.cidx,
         |      ROW_NUMBER() OVER (PARTITION BY i.iid ORDER BY $d2inc, c.cidx) AS rk
         |    FROM inc i CROSS JOIN finalcent c) WHERE rk = 1),
         |pairs200 AS (
         |  SELECT ia.iid, a.vid,
         |    list_dot_product(ia.iv, CAST(p.v AS DOUBLE[])) / (ia.inrm * p.nrm) AS sim
         |  FROM incassign ia JOIN afinal a ON a.cell = ia.cell
         |  JOIN pts p ON p.vid = a.vid),
         |agg200 AS (SELECT iid,
         |    count(DISTINCT CASE WHEN sim >= $threshold THEN vid END) AS n,
         |    max(CASE WHEN sim >= $threshold THEN sim END) AS bs
         |  FROM pairs200 GROUP BY 1),
         |incids AS (
         |  SELECT vec_id + 200000 AS iid, 'verbatim' AS regime
         |  FROM embeddings WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id + 300000, 'paraphrase' FROM embeddings WHERE vec_id % 3 = 1
         |  UNION ALL
         |  SELECT vec_id + 400000, 'novel' FROM embeddings WHERE vec_id % 3 = 2)
         |SELECT i.iid AS in_id, i.regime,
         |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_sources,
         |  round(coalesce(a.bs, -2.0), 6) AS best_sim,
         |  CAST(CASE WHEN coalesce(a.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |FROM incids i LEFT JOIN agg200 a ON a.iid = i.iid""".stripMargin)
      .toString
  }

  /** q111's oracle: the full q42 IVF chain, the brute-force truth from
    * the SAME `pts`/`q` CTEs (q40's arithmetic), and recall@k as a
    * left join of truth against the probe-limited approximate set. */
  private def q111Oracle(nCells: Int, nprobe: Int, maxIter: Int,
      k: Int): String =
    q42OracleChain(nCells, nprobe, maxIter) +
      s""",
         |approx AS (SELECT qid, nid FROM ranked WHERE rk <= $k),
         |btruth AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.qid, p.vid AS nid,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qv, CAST(p.v AS DOUBLE[])) / (q.qnorm * p.nrm) DESC,
         |        p.vid) AS rk
         |    FROM q JOIN pts p ON p.vid <> q.qid) WHERE rk <= $k)
         |SELECT t.qid, count(*) AS n_true, count(a.nid) AS n_hit,
         |  round(CAST(count(a.nid) AS DOUBLE) / count(*), 4) AS recall
         |FROM btruth t LEFT JOIN approx a ON a.qid = t.qid AND a.nid = t.nid
         |GROUP BY t.qid""".stripMargin

  /** q46's oracle: the PQ pipeline replayed end-to-end — all m subspace
    * codebooks trained in ONE set of unrolled Lloyd stages keyed by a
    * subspace column (same kernel contract as q42Oracle: sorted-Forgy
    * seeds, ascending-fold distances, vid-ordered member sums, ties to
    * the lowest index, empty cluster keeps its centroid), then encode =
    * final assignment, ADC tables = per-(query, subspace, centroid)
    * dots, and the score an s-ORDERED fold of table lookups (an
    * unordered SUM of doubles would be aggregation-order-dependent). */
  private def q46Oracle(m: Int, subDim: Int, kCent: Int, maxIter: Int,
      topK: Int): String = {
    val dim = m * subDim
    val sb = new StringBuilder(
      s"""WITH pts AS MATERIALIZED (
         |  SELECT vec_id AS vid, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) = $dim),
         |subs AS MATERIALIZED (
         |  SELECT p.vid, sx.s, p.v[sx.s * $subDim + 1 : (sx.s + 1) * $subDim] AS sv
         |  FROM pts p CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS s) sx),
         |first_seed AS (SELECT vid FROM pts ORDER BY vid LIMIT $kCent),
         |cent0 AS MATERIALIZED (
         |  SELECT sb.s, CAST(ROW_NUMBER() OVER (PARTITION BY sb.s ORDER BY sb.vid) - 1 AS INT) AS cidx,
         |    CAST(sb.sv AS DOUBLE[]) AS c
         |  FROM subs sb JOIN first_seed f ON f.vid = sb.vid)""".stripMargin)
    var prev = "cent0"
    for (it <- 0 until maxIter) {
      sb.append(subAssign("subs", prev, s"a$it"))
      sb.append(subUpdate(subDim, "subs", s"a$it", prev, s"cent${it + 1}",
        alias = "m"))
      prev = s"cent${it + 1}"
    }
    sb.append(subAssign("subs", prev, "afinal"))
    sb.append(
      s""",
         |qsubs AS (SELECT vid AS qid, s, CAST(sv AS DOUBLE[]) AS qsv FROM subs WHERE vid < 20),
         |adc AS MATERIALIZED (
         |  SELECT q.qid, c.s, c.cidx, list_dot_product(q.qsv, c.c) AS dot
         |  FROM qsubs q JOIN $prev c ON c.s = q.s),
         |contrib AS (
         |  SELECT ad.qid, a.vid AS nid, a.s, ad.dot
         |  FROM afinal a JOIN adc ad ON ad.s = a.s AND ad.cidx = a.cell
         |  WHERE a.vid <> ad.qid),
         |scores AS (
         |  SELECT qid, nid,
         |    list_reduce(list_prepend(0.0, list(dot ORDER BY s)), (a,b) -> a + b) AS approx_dot
         |  FROM contrib GROUP BY qid, nid),
         |ranked AS (
         |  SELECT qid, nid, round(approx_dot, 6) AS approx6,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dot DESC, nid) AS rk
         |  FROM scores)
         |SELECT qid, count(*) AS n_results, round(max(approx6), 4) AS best_approx_dot
         |FROM ranked WHERE rk <= $topK GROUP BY qid""".stripMargin)
    sb.toString
  }

  /** q105's oracle: the full IVF-ADC composition replayed in SQL — the
    * coarse k-means fit (q42Oracle's stages, `c`-prefixed) AND the m
    * subspace PQ fits (q46Oracle's stages, `s`-prefixed) unrolled in ONE
    * WITH chain, then probe ranking (cosine vs final coarse centroids,
    * nprobe kept), eligibility (corpus rows whose coarse cell is probed),
    * ADC tables and the s-ordered score fold. Same preconditions as
    * q42Oracle/q46Oracle (corpus under the maxTrainRows cap so the hash
    * sample is a no-op; both sides train on all norm>0 rows). */
  private def q105Oracle(nCells: Int, nprobe: Int, m: Int, subDim: Int,
      kCent: Int, maxIter: Int, topK: Int): String =
    q105OracleChain(nCells, nprobe, m, subDim, kCent, maxIter) +
      s"""
         |SELECT qid, count(*) AS n_results, round(max(approx6), 4) AS best_approx_dot
         |FROM ranked WHERE rk <= $topK GROUP BY qid""".stripMargin

  /** Squared L2 distance of list columns `p` and `c` as an ordered
    * fold (bit-exact across engines; no unordered double SUM). `lam`
    * names the lambda variable. */
  private def lloydD2(p: String, c: String, lam: String = "s2"): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($p, $c), " +
      s"$lam -> (CAST($lam[1] AS DOUBLE) - $lam[2]) * (CAST($lam[1] AS DOUBLE) - $lam[2]))), (a,b) -> a + b)"

  // Unrolled Lloyd stages, each led by ",\n": coarse (full-dim, unkeyed
  // — q42Oracle's kernel) over points `src(vid, v)`, and subspace
  // (s-keyed — q46Oracle's kernel) over sub-vectors `src(vid, s, sv)`.
  // An assignment takes each point's nearest centroid of `cent` (ties to
  // the lower index); an update averages each cell's members in vid
  // order and keeps an empty cell's centroid. `lam` (the distance
  // lambda variable) and `alias` (the member subquery) only rename.
  private def coarseAssign(src: String, cent: String, out: String,
      lam: String = "s2"): String =
    s""",
       |$out AS MATERIALIZED (
       |  SELECT vid, cidx AS cell FROM (
       |    SELECT p.vid, c.cidx, ROW_NUMBER() OVER (PARTITION BY p.vid ORDER BY ${lloydD2("p.v", "c.c", lam)}, c.cidx) AS rk
       |    FROM $src p CROSS JOIN $cent c) WHERE rk = 1)""".stripMargin

  private def coarseUpdate(dim: Int, src: String, assign: String,
      prev: String, out: String, alias: String = "mm"): String =
    s""",
       |$out AS MATERIALIZED (
       |  SELECT pc.cidx,
       |    CASE WHEN $alias.cell IS NULL THEN pc.c
       |    ELSE list_transform(generate_series(1, $dim), i ->
       |      list_reduce(list_prepend(0.0, list_transform($alias.vs, v -> CAST(v[i] AS DOUBLE))), (a,b) -> a + b) / $alias.n)
       |    END AS c
       |  FROM $prev pc LEFT JOIN (
       |    SELECT a.cell, list(p.v ORDER BY p.vid) AS vs, count(*) AS n
       |    FROM $assign a JOIN $src p ON p.vid = a.vid GROUP BY a.cell) $alias
       |  ON $alias.cell = pc.cidx)""".stripMargin

  private def subAssign(src: String, cent: String, out: String): String =
    s""",
       |$out AS MATERIALIZED (
       |  SELECT vid, s, cidx AS cell FROM (
       |    SELECT p.vid, p.s, c.cidx,
       |      ROW_NUMBER() OVER (PARTITION BY p.vid, p.s ORDER BY ${lloydD2("p.sv", "c.c")}, c.cidx) AS rk
       |    FROM $src p JOIN $cent c ON c.s = p.s) WHERE rk = 1)""".stripMargin

  private def subUpdate(subDim: Int, src: String, assign: String,
      prev: String, out: String, alias: String = "mm"): String =
    s""",
       |$out AS MATERIALIZED (
       |  SELECT pc.s, pc.cidx,
       |    CASE WHEN $alias.cell IS NULL THEN pc.c
       |    ELSE list_transform(generate_series(1, $subDim), i ->
       |      list_reduce(list_prepend(0.0, list_transform($alias.vs, v -> CAST(v[i] AS DOUBLE))), (a,b) -> a + b) / $alias.n)
       |    END AS c
       |  FROM $prev pc LEFT JOIN (
       |    SELECT a.s, a.cell, list(p.sv ORDER BY p.vid) AS vs, count(*) AS n
       |    FROM $assign a JOIN $src p ON p.vid = a.vid AND p.s = a.s
       |    GROUP BY a.s, a.cell) $alias
       |  ON $alias.s = pc.s AND $alias.cell = pc.cidx)""".stripMargin

  /** The q105 IVF-ADC WITH-chain up to `ranked`, no final SELECT —
    * shared by q105 (top-k agg), q112 (recall@k vs brute truth) and q113
    * (distributed corpus-vs-corpus, `queryPred = "TRUE"`). */
  private def q105OracleChain(nCells: Int, nprobe: Int, m: Int, subDim: Int,
      kCent: Int, maxIter: Int, queryPred: String = "vid < 20"): String = {
    val dim = m * subDim
    val sb = new StringBuilder(
      s"""WITH pts AS MATERIALIZED (
         |  SELECT vec_id AS vid, embedding AS v
         |  FROM embeddings
         |  WHERE sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0),
         |ccent0 AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vid) - 1 AS INT) AS cidx, CAST(v AS DOUBLE[]) AS c
         |  FROM (SELECT vid, v FROM pts ORDER BY vid LIMIT $nCells)),
         |subs AS MATERIALIZED (
         |  SELECT p.vid, sx.s, p.v[sx.s * $subDim + 1 : (sx.s + 1) * $subDim] AS sv
         |  FROM pts p CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS s) sx),
         |first_seed AS (SELECT vid FROM pts ORDER BY vid LIMIT $kCent),
         |scent0 AS MATERIALIZED (
         |  SELECT sb.s, CAST(ROW_NUMBER() OVER (PARTITION BY sb.s ORDER BY sb.vid) - 1 AS INT) AS cidx,
         |    CAST(sb.sv AS DOUBLE[]) AS c
         |  FROM subs sb JOIN first_seed f ON f.vid = sb.vid)""".stripMargin)
    var cPrev = "ccent0"
    for (it <- 0 until maxIter) {
      sb.append(coarseAssign("pts", cPrev, s"ca$it"))
      sb.append(coarseUpdate(dim, "pts", s"ca$it", cPrev, s"ccent${it + 1}"))
      cPrev = s"ccent${it + 1}"
    }
    sb.append(coarseAssign("pts", cPrev, "cafinal"))
    var sPrev = "scent0"
    for (it <- 0 until maxIter) {
      sb.append(subAssign("subs", sPrev, s"sa$it"))
      sb.append(subUpdate(subDim, "subs", s"sa$it", sPrev, s"scent${it + 1}"))
      sPrev = s"scent${it + 1}"
    }
    sb.append(subAssign("subs", sPrev, "safinal"))
    sb.append(
      s""",
         |${adcRankCtes(queryPred, cPrev, sPrev, nprobe)}""".stripMargin)
    sb.toString
  }

  /** q105's IVF-ADC serve stages: per query `q` (rows of `pts` matching
    * `queryPred`), the `nprobe` nearest cells of the centroid CTE
    * `cells`, the eligible `cafinal` members, lookup tables against the
    * codebook CTE `codebooks`, and `ranked(qid, nid, approx6, rk)`. */
  private def adcRankCtes(queryPred: String, cells: String,
      codebooks: String, nprobe: Int): String =
    s"""q AS (SELECT vid AS qid, CAST(v AS DOUBLE[]) AS qv FROM pts WHERE $queryPred),
       |probes AS (
       |  SELECT qid, cidx AS cell FROM (
       |    SELECT q.qid, c.cidx,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
       |        list_dot_product(q.qv, c.c) /
       |        (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.c, c.c))) DESC,
       |        c.cidx) AS crk
       |    FROM q CROSS JOIN $cells c) WHERE crk <= $nprobe),
       |elig AS (
       |  SELECT pr.qid, cf.vid AS nid
       |  FROM probes pr JOIN cafinal cf ON cf.cell = pr.cell
       |  WHERE cf.vid <> pr.qid),
       |qsubs AS (SELECT vid AS qid, s, CAST(sv AS DOUBLE[]) AS qsv FROM subs WHERE $queryPred),
       |adc AS MATERIALIZED (
       |  SELECT qs.qid, c.s, c.cidx, list_dot_product(qs.qsv, c.c) AS dot
       |  FROM qsubs qs JOIN $codebooks c ON c.s = qs.s),
       |contrib AS (
       |  SELECT e.qid, e.nid, a.s, ad.dot
       |  FROM elig e JOIN safinal a ON a.vid = e.nid
       |  JOIN adc ad ON ad.qid = e.qid AND ad.s = a.s AND ad.cidx = a.cell),
       |scores AS (
       |  SELECT qid, nid,
       |    list_reduce(list_prepend(0.0, list(dot ORDER BY s)), (a,b) -> a + b) AS approx_dot
       |  FROM contrib GROUP BY qid, nid),
       |ranked AS (
       |  SELECT qid, nid, round(approx_dot, 6) AS approx6,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dot DESC, nid) AS rk
       |  FROM scores)""".stripMargin

  /** The residual form of [[adcRankCtes]] (q275): probes keep q·c(cell),
    * eligible members come from `cellTable`, residual codes from
    * `codeTable` against the residual codebook CTE `codebooks`, ending
    * in `rankedR(qid, nid, approx6, rk)`. */
  private def residualAdcRankCtes(queryPred: String, subDim: Int,
      cells: String, cellTable: String, codebooks: String,
      codeTable: String, nprobe: Int): String =
    s"""q AS (SELECT vid AS qid, CAST(v AS DOUBLE[]) AS qv FROM pts WHERE $queryPred),
       |probes AS (
       |  SELECT qid, cidx AS cell, dt AS qdotc FROM (
       |    SELECT q.qid, c.cidx, list_dot_product(q.qv, c.c) AS dt,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
       |        list_dot_product(q.qv, c.c) /
       |        (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.c, c.c))) DESC,
       |        c.cidx) AS crk
       |    FROM q CROSS JOIN $cells c) WHERE crk <= $nprobe),
       |elig AS (
       |  SELECT pr.qid, cf.vid AS nid, pr.qdotc
       |  FROM probes pr JOIN $cellTable cf ON cf.cell = pr.cell
       |  WHERE cf.vid <> pr.qid),
       |rqsubs AS (SELECT vid AS qid, sxx.s,
       |    CAST(v[sxx.s * $subDim + 1 : (sxx.s + 1) * $subDim] AS DOUBLE[]) AS qsv
       |  FROM pts CROSS JOIN sxx WHERE $queryPred),
       |radc AS MATERIALIZED (
       |  SELECT qs.qid, c.s, c.cidx, list_dot_product(qs.qsv, c.c) AS dot
       |  FROM rqsubs qs JOIN $codebooks c ON c.s = qs.s),
       |rcontrib AS (
       |  SELECT e.qid, e.nid, e.qdotc, a.s, ad.dot
       |  FROM elig e JOIN $codeTable a ON a.vid = e.nid
       |  JOIN radc ad ON ad.qid = e.qid AND ad.s = a.s AND ad.cidx = a.cell),
       |rscores AS (
       |  SELECT qid, nid,
       |    qdotc + list_reduce(list_prepend(0.0, list(dot ORDER BY s)), (a,b) -> a + b) AS approx_dot
       |  FROM rcontrib GROUP BY qid, nid, qdotc),
       |rankedR AS (
       |  SELECT qid, nid, round(approx_dot, 6) AS approx6,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dot DESC, nid) AS rk
       |  FROM rscores)""".stripMargin

  /** The RESIDUAL IVF-PQ chain (q275/q276): q105's coarse stages, then
    * PQ codebooks trained on residuals v − c(cell) w.r.t. the FINAL
    * coarse centroids (all double — [[graft.operators.LocalKMeans
    * .fitSortedForgyD]] replays exactly), and the serve-path score
    * q·c(cell) + Σ_s table lookups (the exact decomposition
    * q·v̂ = q·c + q·r̂). Emits `rankedR` (residual); with
    * `withRaw = true` also the q105 raw-PQ tail as `ranked`, from the
    * SAME coarse cells, for the q276 side-by-side recall gate. */
  private def q275OracleChain(nCells: Int, nprobe: Int, m: Int, subDim: Int,
      kCent: Int, maxIter: Int, queryPred: String = "vid < 20",
      withRaw: Boolean = false): String = {
    val dim = m * subDim
    val sb = new StringBuilder(
      s"""WITH pts AS MATERIALIZED (
         |  SELECT vec_id AS vid, embedding AS v
         |  FROM embeddings
         |  WHERE sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0),
         |ccent0 AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vid) - 1 AS INT) AS cidx, CAST(v AS DOUBLE[]) AS c
         |  FROM (SELECT vid, v FROM pts ORDER BY vid LIMIT $nCells)),
         |sxx AS (SELECT unnest(generate_series(0, ${m - 1})) AS s),
         |first_seed AS (SELECT vid FROM pts ORDER BY vid LIMIT $kCent)""".stripMargin)
    var cPrev = "ccent0"
    for (it <- 0 until maxIter) {
      sb.append(coarseAssign("pts", cPrev, s"ca$it"))
      sb.append(coarseUpdate(dim, "pts", s"ca$it", cPrev, s"ccent${it + 1}"))
      cPrev = s"ccent${it + 1}"
    }
    sb.append(coarseAssign("pts", cPrev, "cafinal"))
    // residual points w.r.t. the FINAL coarse centroids, then subspace
    // codebooks over residual subvectors (all double, no casts needed)
    sb.append(
      s""",
         |rres AS MATERIALIZED (
         |  SELECT p.vid, list_transform(generate_series(1, $dim), i ->
         |    CAST(p.v[i] AS DOUBLE) - c.c[i]) AS rv
         |  FROM pts p JOIN cafinal a ON a.vid = p.vid
         |  JOIN $cPrev c ON c.cidx = a.cell),
         |rsubs AS MATERIALIZED (
         |  SELECT r.vid, sxx.s, r.rv[sxx.s * $subDim + 1 : (sxx.s + 1) * $subDim] AS sv
         |  FROM rres r CROSS JOIN sxx),
         |rscent0 AS MATERIALIZED (
         |  SELECT sb.s, CAST(ROW_NUMBER() OVER (PARTITION BY sb.s ORDER BY sb.vid) - 1 AS INT) AS cidx,
         |    sb.sv AS c
         |  FROM rsubs sb JOIN first_seed f ON f.vid = sb.vid)""".stripMargin)
    var rsPrev = "rscent0"
    for (it <- 0 until maxIter) {
      sb.append(subAssign("rsubs", rsPrev, s"rsa$it"))
      sb.append(subUpdate(subDim, "rsubs", s"rsa$it", rsPrev, s"rscent${it + 1}"))
      rsPrev = s"rscent${it + 1}"
    }
    sb.append(subAssign("rsubs", rsPrev, "rsafinal"))
    sb.append(
      s""",
         |${residualAdcRankCtes(queryPred, subDim, cPrev, "cafinal", rsPrev, "rsafinal", nprobe)}""".stripMargin)
    if (withRaw) {
      // the q105 raw-PQ tail from the SAME coarse cells/probes
      sb.append(
        s""",
           |subs AS MATERIALIZED (
           |  SELECT p.vid, sxx.s, p.v[sxx.s * $subDim + 1 : (sxx.s + 1) * $subDim] AS sv
           |  FROM pts p CROSS JOIN sxx),
           |scent0 AS MATERIALIZED (
           |  SELECT sb.s, CAST(ROW_NUMBER() OVER (PARTITION BY sb.s ORDER BY sb.vid) - 1 AS INT) AS cidx,
           |    CAST(sb.sv AS DOUBLE[]) AS c
           |  FROM subs sb JOIN first_seed f ON f.vid = sb.vid)""".stripMargin)
      var sPrev = "scent0"
      for (it <- 0 until maxIter) {
        sb.append(subAssign("subs", sPrev, s"sa$it"))
        sb.append(subUpdate(subDim, "subs", s"sa$it", sPrev, s"scent${it + 1}"))
        sPrev = s"scent${it + 1}"
      }
      sb.append(subAssign("subs", sPrev, "safinal"))
      sb.append(
        s""",
           |adc AS MATERIALIZED (
           |  SELECT qs.qid, c.s, c.cidx, list_dot_product(qs.qsv, c.c) AS dot
           |  FROM rqsubs qs JOIN $sPrev c ON c.s = qs.s),
           |contrib AS (
           |  SELECT e.qid, e.nid, a.s, ad.dot
           |  FROM elig e JOIN safinal a ON a.vid = e.nid
           |  JOIN adc ad ON ad.qid = e.qid AND ad.s = a.s AND ad.cidx = a.cell),
           |scores AS (
           |  SELECT qid, nid,
           |    list_reduce(list_prepend(0.0, list(dot ORDER BY s)), (a,b) -> a + b) AS approx_dot
           |  FROM contrib GROUP BY qid, nid),
           |ranked AS (
           |  SELECT qid, nid, round(approx_dot, 6) AS approx6,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dot DESC, nid) AS rk
           |  FROM scores)""".stripMargin)
    }
    sb.toString
  }

  /** q277's oracle: the RESIDUAL chain with the q255 source split AND
    * the q261 deletion — both fits (coarse + residual codebooks) train
    * on the EPOCH rows only (`fpts`), while the final cell assignment,
    * residual encode, and query stages run over the SURVIVORS of
    * (epoch ∪ re-keyed batch) ∖ deleted (`ipts`). Hash equality against
    * the Spark remove(upsert(annIndex(epoch), batch), deleted) chain
    * proves the whole CRUD cycle on the residual tier: fold == rebuild
    * from the frozen fit, delete == an index event, never a refit. */
  private def q277Oracle(nCells: Int, nprobe: Int, m: Int, subDim: Int,
      kCent: Int, maxIter: Int, topK: Int, offset: Long,
      queryPred: String, indexPred: String): String = {
    val dim = m * subDim
    val sb = new StringBuilder(
      s"""WITH upts AS MATERIALIZED (
         |  SELECT vec_id AS vid, embedding AS v FROM embeddings WHERE vec_id % 4 <> 0
         |  UNION ALL
         |  SELECT vec_id + $offset, embedding FROM embeddings WHERE vec_id % 4 = 0),
         |pts AS MATERIALIZED (
         |  SELECT vid, v FROM upts
         |  WHERE sqrt(list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[]))) > 0),
         |fpts AS MATERIALIZED (SELECT vid, v FROM pts WHERE vid < $offset),
         |ipts AS MATERIALIZED (SELECT vid, v FROM pts WHERE $indexPred),
         |sxx AS (SELECT unnest(generate_series(0, ${m - 1})) AS s),
         |ccent0 AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vid) - 1 AS INT) AS cidx, CAST(v AS DOUBLE[]) AS c
         |  FROM (SELECT vid, v FROM fpts ORDER BY vid LIMIT $nCells)),
         |first_seed AS (SELECT vid FROM fpts ORDER BY vid LIMIT $kCent)""".stripMargin)
    var cPrev = "ccent0"
    for (it <- 0 until maxIter) {
      sb.append(coarseAssign("fpts", cPrev, s"fca$it"))
      sb.append(coarseUpdate(dim, "fpts", s"fca$it", cPrev, s"ccent${it + 1}"))
      cPrev = s"ccent${it + 1}"
    }
    // fit-row cells (for the codebook-training residuals) and INDEX-row
    // cells (the survivors' index entries), both vs the FROZEN coarse
    sb.append(coarseAssign("fpts", cPrev, "fcafinal"))
    sb.append(coarseAssign("ipts", cPrev, "icafinal"))
    sb.append(
      s""",
         |frres AS MATERIALIZED (
         |  SELECT p.vid, list_transform(generate_series(1, $dim), i ->
         |    CAST(p.v[i] AS DOUBLE) - c.c[i]) AS rv
         |  FROM fpts p JOIN fcafinal a ON a.vid = p.vid
         |  JOIN $cPrev c ON c.cidx = a.cell),
         |frsubs AS MATERIALIZED (
         |  SELECT r.vid, sxx.s, r.rv[sxx.s * $subDim + 1 : (sxx.s + 1) * $subDim] AS sv
         |  FROM frres r CROSS JOIN sxx),
         |rscent0 AS MATERIALIZED (
         |  SELECT sb.s, CAST(ROW_NUMBER() OVER (PARTITION BY sb.s ORDER BY sb.vid) - 1 AS INT) AS cidx,
         |    sb.sv AS c
         |  FROM frsubs sb JOIN first_seed f ON f.vid = sb.vid)""".stripMargin)
    var rsPrev = "rscent0"
    for (it <- 0 until maxIter) {
      sb.append(subAssign("frsubs", rsPrev, s"rsa$it"))
      sb.append(subUpdate(subDim, "frsubs", s"rsa$it", rsPrev, s"rscent${it + 1}"))
      rsPrev = s"rscent${it + 1}"
    }
    sb.append(
      s""",
         |irres AS MATERIALIZED (
         |  SELECT p.vid, list_transform(generate_series(1, $dim), i ->
         |    CAST(p.v[i] AS DOUBLE) - c.c[i]) AS rv
         |  FROM ipts p JOIN icafinal a ON a.vid = p.vid
         |  JOIN $cPrev c ON c.cidx = a.cell),
         |irsubs AS MATERIALIZED (
         |  SELECT r.vid, sxx.s, r.rv[sxx.s * $subDim + 1 : (sxx.s + 1) * $subDim] AS sv
         |  FROM irres r CROSS JOIN sxx)""".stripMargin)
    sb.append(subAssign("irsubs", rsPrev, "irsafinal"))
    sb.append(
      s""",
         |${residualAdcRankCtes(queryPred, subDim, cPrev, "icafinal", rsPrev, "irsafinal", nprobe)}
         |SELECT qid, nid, approx6 AS approx_dot, CAST(rk AS INT) AS rank
         |FROM rankedR WHERE rk <= $topK""".stripMargin)
    sb.toString
  }

  /** q255's oracle: the q105 IVF-ADC chain with the FIT sources split
    * from the INDEX/QUERY sources — both k-means fits (coarse + m
    * subspace codebooks) train on the EPOCH rows only (`fpts`/`fsubs`),
    * exactly replaying fitFrozen(epoch), while the final cell
    * assignment, PQ encode, and query stages run over the epoch ∪
    * re-keyed batch union (`pts`/`subs`). Hash equality against the
    * incremental Spark path (annIndex(epoch) ⊕ upsertAnnIndex(batch))
    * proves fold-into-frozen-fit == full rebuild from the same fit —
    * and would BREAK if the maintenance path ever refit on the union
    * (different centroids) or re-encoded epoch rows differently. */
  private def q255Oracle(nCells: Int, nprobe: Int, m: Int, subDim: Int,
      kCent: Int, maxIter: Int, topK: Int, offset: Long,
      queryPred: String, indexPred: String = "TRUE"): String = {
    val dim = m * subDim
    // Lloyd stages parameterized on the point source: fit iterations run
    // on the TRAINING rows (fpts/fsubs); the final assignment pass runs
    // on the full union (pts/subs).
    val sb = new StringBuilder(
      s"""WITH upts AS MATERIALIZED (
         |  SELECT vec_id AS vid, embedding AS v FROM embeddings WHERE vec_id % 4 <> 0
         |  UNION ALL
         |  SELECT vec_id + $offset, embedding FROM embeddings WHERE vec_id % 4 = 0),
         |pts AS MATERIALIZED (
         |  SELECT vid, v FROM upts
         |  WHERE sqrt(list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[]))) > 0),
         |fpts AS MATERIALIZED (SELECT vid, v FROM pts WHERE vid < $offset),
         |ipts AS MATERIALIZED (SELECT vid, v FROM pts WHERE $indexPred),
         |ccent0 AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vid) - 1 AS INT) AS cidx, CAST(v AS DOUBLE[]) AS c
         |  FROM (SELECT vid, v FROM fpts ORDER BY vid LIMIT $nCells)),
         |subs AS MATERIALIZED (
         |  SELECT p.vid, sx.s, p.v[sx.s * $subDim + 1 : (sx.s + 1) * $subDim] AS sv
         |  FROM pts p CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS s) sx),
         |fsubs AS MATERIALIZED (SELECT vid, s, sv FROM subs WHERE vid < $offset),
         |isubs AS MATERIALIZED (SELECT vid, s, sv FROM subs WHERE $indexPred),
         |first_seed AS (SELECT vid FROM fpts ORDER BY vid LIMIT $kCent),
         |scent0 AS MATERIALIZED (
         |  SELECT sb.s, CAST(ROW_NUMBER() OVER (PARTITION BY sb.s ORDER BY sb.vid) - 1 AS INT) AS cidx,
         |    CAST(sb.sv AS DOUBLE[]) AS c
         |  FROM fsubs sb JOIN first_seed f ON f.vid = sb.vid)""".stripMargin)
    var cPrev = "ccent0"
    for (it <- 0 until maxIter) {
      sb.append(coarseAssign("fpts", cPrev, s"fca$it"))
      sb.append(coarseUpdate(dim, "fpts", s"fca$it", cPrev, s"ccent${it + 1}"))
      cPrev = s"ccent${it + 1}"
    }
    sb.append(coarseAssign("ipts", cPrev, "cafinal"))
    var sPrev = "scent0"
    for (it <- 0 until maxIter) {
      sb.append(subAssign("fsubs", sPrev, s"fsa$it"))
      sb.append(subUpdate(subDim, "fsubs", s"fsa$it", sPrev, s"scent${it + 1}"))
      sPrev = s"scent${it + 1}"
    }
    sb.append(subAssign("isubs", sPrev, "safinal"))
    sb.append(
      s""",
         |${adcRankCtes(queryPred, cPrev, sPrev, nprobe)}
         |SELECT qid, nid, approx6 AS approx_dot, CAST(rk AS INT) AS rank
         |FROM ranked WHERE rk <= $topK""".stripMargin)
    sb.toString
  }

  /** q112's oracle: the full q105 IVF-ADC chain plus the brute-force
    * cosine truth over the same `pts` (norms computed inline — q105's
    * pts carries no norm column), recall@k as a truth-vs-approx join.
    * Measures what a user actually asks of a compressed ANN index: how
    * much of the TRUE neighborhood the approximation keeps. */
  private def q112Oracle(nCells: Int, nprobe: Int, m: Int, subDim: Int,
      kCent: Int, maxIter: Int, k: Int): String =
    q105OracleChain(nCells, nprobe, m, subDim, kCent, maxIter) +
      s""",
         |approx AS (SELECT qid, nid FROM ranked WHERE rk <= $k),
         |btruth AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.qid, p.vid AS nid,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qv, CAST(p.v AS DOUBLE[])) /
         |        (sqrt(list_dot_product(q.qv, q.qv)) *
         |         sqrt(list_dot_product(CAST(p.v AS DOUBLE[]), CAST(p.v AS DOUBLE[])))) DESC,
         |        p.vid) AS rk
         |    FROM q JOIN pts p ON p.vid <> q.qid) WHERE rk <= $k)
         |SELECT t.qid, count(*) AS n_true, count(a.nid) AS n_hit,
         |  round(CAST(count(a.nid) AS DOUBLE) / count(*), 4) AS recall
         |FROM btruth t LEFT JOIN approx a ON a.qid = t.qid AND a.nid = t.nid
         |GROUP BY t.qid""".stripMargin

  /** recall@k arithmetic shared by q111/q112/q114: truth LEFT JOIN
    * approx on (qid, nid) → per-query hit count and ratio. One
    * definition so the Spark side can never diverge across the three
    * gates (the oracles share the same shape in their chain tails). */
  private def recallVsTruth(truth: org.apache.spark.sql.DataFrame,
      approx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    truth.join(approx.withColumn("hit", lit(1)), Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_hit"),
        round(sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1)), 4).as("recall"))

  val all: Seq[Q] = Seq(
    // Exact cosine top-5 neighbors for the first 20 vectors.
    Q("q40_cosine_brute_topk",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        Similarity.bruteTopK(e.filter(col("vec_id") < 20), e, 5)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
             |  FROM embeddings WHERE vec_id < 20),
             |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
             |pairs AS (
             |  SELECT qid, nid,
             |    list_dot_product(qv, nv) / (sqrt(list_dot_product(qv, qv)) *
             |      sqrt(list_dot_product(nv, nv))) AS sim
             |  FROM q JOIN c ON qid <> nid),
             |ranked AS (
             |  SELECT qid, nid, sim,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             |  FROM pairs)
             |SELECT qid, nid, ROUND(sim, 6) AS sim, CAST(rank AS INT) AS rank
             |FROM ranked WHERE rank <= 5""".stripMargin)),

    // Hybrid retrieval (Fusion.rrfTopK): lexical TF-IDF and dense
    // cosine legs over the SAME candidate pool (documents that have
    // embeddings), fused by reciprocal rank in integer micro-units
    // (1e9 DIV (60 + rank) — exact integer sums, no double tie-break
    // noise). The oracle replays BOTH legs (the q76 pruned-posting
    // chain over the restricted pool + the q40 brute chain) and the
    // integer fusion; leg ranks are already proven rank-exact by
    // q76/q40, so the fused ranking is deterministic end-to-end.
    Q("q151_hybrid_rrf",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val d = Tables.load(spark, dir, "documents")
        val pool = d.join(e.select(col("vec_id").as("doc_id")), "doc_id")
        val lex = graft.operators.TfIdf
          .topK(graft.operators.TfIdf.weights(pool, "doc_id", "text"),
            10, maxDfRatio = 0.5)
          .filter(col("qid") < 20)
          .select(col("qid"), col("nid"), col("rank"))
        val vec = graft.operators.Similarity
          .bruteTopK(e.filter(col("vec_id") < 20), e, 10)
          .select(col("qid"), col("nid"), col("rank"))
        graft.operators.Fusion.rrfTopK(Seq(lex, vec), k = 10)
      },
      Some(s"""WITH pool AS (
             |  SELECT d.doc_id AS id, d.text FROM documents d
             |  JOIN embeddings e ON e.vec_id = d.doc_id),
             |terms AS (
             |  SELECT id,
             |    unnest(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS term
             |  FROM pool),
             |${OracleFragments.tfidfCosineCtes("pool")},
             |lex AS (
             |  SELECT qid, nid, rank FROM (
             |    SELECT qid, nid,
             |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             |    FROM sym) WHERE rank <= 10 AND qid < 20),
             |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
             |  FROM embeddings WHERE vec_id < 20),
             |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
             |vpairs AS (
             |  SELECT qid, nid,
             |    list_dot_product(qv, nv) / (sqrt(list_dot_product(qv, qv)) *
             |      sqrt(list_dot_product(nv, nv))) AS sim
             |  FROM q JOIN c ON qid <> nid),
             |vec AS (
             |  SELECT qid, nid, rank FROM (
             |    SELECT qid, nid,
             |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             |    FROM vpairs) WHERE rank <= 10),
             |con AS (
             |  SELECT qid, nid, CAST(1000000000 // (60 + rank) AS BIGINT) AS w FROM lex
             |  UNION ALL
             |  SELECT qid, nid, CAST(1000000000 // (60 + rank) AS BIGINT) AS w FROM vec),
             |fused AS (SELECT qid, nid, CAST(sum(w) AS BIGINT) AS rrf
             |  FROM con GROUP BY 1, 2),
             |ranked AS (SELECT qid, nid, rrf,
             |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS rank
             |  FROM fused)
             |SELECT qid, nid, rrf, CAST(rank AS INT) AS rank
             |FROM ranked WHERE rank <= 10""".stripMargin)),

    // Deterministic negative sampling for contrastive training: per
    // query, 8 negatives drawn by unsigned mix64(qid·1000003 + nid)
    // from the corpus MINUS the query itself MINUS its brute top-5
    // positives — RNG-free, retry-stable, reproducible epoch-to-epoch,
    // and exclusion-correct by construction (an anti-join, not
    // rejection sampling). Bottom-k-by-hash aggregator keeps ≤ 8 rows
    // per query per map task. Oracle replays the q40 positive chain,
    // the NOT EXISTS exclusion, and the hash order.
    Q("q154_negative_sampling",
      (spark, dir) => {
        import graft.functions.TextFunctions
        val e = Tables.load(spark, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 20)
        val pos = graft.operators.Similarity.bruteTopK(qs, e, 5)
          .select(col("qid"), col("nid"))
        val mixFlip = udf((x: Long) => TextFunctions.mix64(x) ^ Long.MinValue)
        e.select(col("vec_id").as("nid"))
          .crossJoin(qs.select(col("vec_id").as("qid")))
          .filter(col("qid") =!= col("nid"))
          .join(pos, Seq("qid", "nid"), "left_anti")
          .select(col("qid"), col("nid"),
            mixFlip(col("qid") * lit(1000003L) + col("nid")).as("_h"))
          .groupBy(col("qid"))
          .agg(graft.plans.BottomKAggregator.bottom_k_sample(8)(
            col("_h"), col("nid").cast("double")).as("negs"))
          .select(col("qid"), posexplode(col("negs")))
          .select(col("qid"), (col("pos") + 1).cast("int").as("pos"),
            col("col").cast("long").as("neg_id"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
             |  FROM embeddings WHERE vec_id < 20),
             |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
             |vpairs AS (
             |  SELECT qid, nid,
             |    list_dot_product(qv, nv) / (sqrt(list_dot_product(qv, qv)) *
             |      sqrt(list_dot_product(nv, nv))) AS sim
             |  FROM q JOIN c ON qid <> nid),
             |vranked AS (
             |  SELECT qid, nid,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             |  FROM vpairs),
             |pos AS (SELECT qid, nid FROM vranked WHERE rank <= 5),
             |cand AS (
             |  SELECT qq.qid, e.vec_id AS nid
             |  FROM (SELECT DISTINCT qid FROM q) qq CROSS JOIN embeddings e
             |  WHERE e.vec_id <> qq.qid AND NOT EXISTS (
             |    SELECT 1 FROM pos p WHERE p.qid = qq.qid AND p.nid = e.vec_id)),
             |${RelationalQueries5.mix64Stages("cand", Seq("qid", "nid"), "CAST(qid * 1000003 + nid AS HUGEINT)")},
             |nranked AS (SELECT qid, nid,
             |    row_number() OVER (PARTITION BY qid ORDER BY vu) AS pos
             |  FROM mixed)
             |SELECT qid, CAST(pos AS INT) AS pos, nid AS neg_id
             |FROM nranked WHERE pos <= 8""".stripMargin)),

    // SRP-LSH approximate top-k (bucketed candidates only). Oracled: the
    // signature is deterministic given the seed, so the Rademacher plane
    // matrix is embedded in the SQL as a literal — generated from the
    // SAME mix64 the kernel uses (srpSignRows), so they cannot drift —
    // and DuckDB replays signature → band buckets → candidate join →
    // exact rerank. list_dot_product matches the fused kernel's ascending
    // double accumulation bit-exactly (proven by the q40 oracle).
    Q("q41_cosine_srp_topk",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        Similarity.srpTopK(e.filter(col("vec_id") < 20), e, 5)
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_results"),
            round(max(col("sim")), 6).as("best_sim"))
      },
      Some(q41OracleChain(planes = 16, bandBits = 4, seed = 42L) +
        s"""
           |SELECT qid, count(*) AS n_results, ROUND(max(sim), 6) AS best_sim
           |FROM ranked WHERE rank <= 5 GROUP BY qid""".stripMargin)),

    // MULTI-PROBE SRP top-k (Similarity.srpMultiProbeTopK): the q41
    // index queried harder instead of built bigger — each query also
    // probes the buckets reached by flipping its 2 lowest-|margin|
    // sign bits (a near-zero projection puts the true neighbor across
    // that hyperplane with probability ≈ 1/2). Row-level gate over the
    // re-ranked head; the oracle replays margins, flips, probe union,
    // and exact re-rank.
    Q("q273_srp_multiprobe_topk",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        Similarity.srpMultiProbeTopK(e.filter(col("vec_id") < 20), e, 5)
      },
      Some(q273OracleChain(planes = 16, bandBits = 4, seed = 42L,
        nProbes = 2) +
        s"""
           |SELECT qid, nid, sim, CAST(rank AS INT) AS rank
           |FROM rankedM WHERE rank <= 5""".stripMargin)),

    // MULTI-PROBE RECALL LIFT — q114's recall gate run for BOTH probe
    // budgets from the same banded index: base buckets (srpTopK) vs
    // base + 4 lowest-margin single-bit flips, against brute truth.
    // Multi-probe candidates are a strict superset, so recall can only
    // rise; `lifted` marks the queries where the extra probes actually
    // recovered a true neighbor. The scale story: recall bought with
    // ~nBands+4 bucket lookups per query instead of a bigger index.
    Q("q274_srp_multiprobe_recall",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 20)
        val truth = Similarity.bruteTopK(qs, e, 10)
          .select(col("qid"), col("nid"))
        val base = Similarity.srpTopK(qs, e, 10)
          .select(col("qid"), col("nid"))
        val mp = Similarity.srpMultiProbeTopK(qs, e, 10, nProbes = 4)
          .select(col("qid"), col("nid"))
        val ra = recallVsTruth(truth, base)
          .select(col("qid"), col("n_true"), col("n_hit").as("base_hit"),
            col("recall").as("recall_base"))
        val rb = recallVsTruth(truth, mp)
          .select(col("qid"), col("n_hit").as("mp_hit"),
            col("recall").as("recall_mp"))
        ra.join(rb, Seq("qid"))
          .withColumn("lifted",
            when(col("mp_hit") > col("base_hit"), 1L).otherwise(0L))
      },
      Some(q273OracleChain(planes = 16, bandBits = 4, seed = 42L,
        nProbes = 4) +
        s""",
           |approxB AS (SELECT qid, nid FROM rankedB WHERE rank <= 10),
           |approxM AS (SELECT qid, nid FROM rankedM WHERE rank <= 10),
           |btruth AS (
           |  SELECT qid, nid FROM (
           |    SELECT qn.id AS qid, cn.id AS nid,
           |      ROW_NUMBER() OVER (PARTITION BY qn.id ORDER BY
           |        list_dot_product(qn.v, cn.v) / (qn.vnorm * cn.vnorm) DESC,
           |        cn.id) AS rk
           |    FROM normed qn JOIN normed cn ON qn.id < 20 AND cn.id <> qn.id)
           |  WHERE rk <= 10)
           |SELECT t.qid, count(*) AS n_true,
           |  CAST(count(b.nid) AS BIGINT) AS base_hit,
           |  round(CAST(count(b.nid) AS DOUBLE) / count(*), 4) AS recall_base,
           |  CAST(count(m.nid) AS BIGINT) AS mp_hit,
           |  round(CAST(count(m.nid) AS DOUBLE) / count(*), 4) AS recall_mp,
           |  CAST(CASE WHEN count(m.nid) > count(b.nid) THEN 1 ELSE 0 END
           |    AS BIGINT) AS lifted
           |FROM btruth t
           |LEFT JOIN approxB b ON b.qid = t.qid AND b.nid = t.nid
           |LEFT JOIN approxM m ON m.qid = t.qid AND m.nid = t.nid
           |GROUP BY t.qid""".stripMargin)),

    // RESIDUAL IVF-PQ (ProductQuantization.fitFrozenResidual /
    // queryIndexResidualDistributed) — the production-standard FAISS
    // IVFPQ form: PQ codebooks train on residuals v − c(cell), and the
    // serve score is the exact decomposition q·c + ADC(q, r̂). Same
    // index size, same probes; the code budget spends its resolution on
    // the residual ball instead of the whole space. Row-level gate; the
    // oracle unrolls the coarse fit, the residual codebook fit, and the
    // decomposed scoring.
    Q("q275_ivfpq_residual_topk",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozenResidual(e)
        val idx = pq.annIndexResidual(fit, e)
        pq.queryIndexResidualDistributed(fit, idx,
          e.filter(col("vec_id") < 20), k = 10, nprobe = 4)
      },
      Some(q275OracleChain(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10) +
        s"""
           |SELECT qid, nid, approx6 AS approx_dot, CAST(rk AS INT) AS rank
           |FROM rankedR WHERE rk <= 10""".stripMargin)),

    // RESIDUAL vs RAW PQ RECALL — the value receipt for q275: both
    // fits share the identical coarse quantizer and probes (candidates
    // are the same rows), so any recall difference vs brute truth is
    // PURELY quantization quality. Residual codebooks see vectors
    // already centered by their cell, so the same m×k budget resolves
    // finer — `lifted` marks queries where that recovered a true
    // neighbor the raw ordering lost.
    Q("q276_residual_pq_recall",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val qs = e.filter(col("vec_id") < 20)
        val pq = graft.operators.ProductQuantization
        val truth = Similarity.bruteTopK(qs, e, 10)
          .select(col("qid"), col("nid"))
        val rawFit = pq.fitFrozen(e)
        val raw = pq.queryIndexDistributed(rawFit, pq.annIndex(rawFit, e),
          qs, k = 10, nprobe = 4).select(col("qid"), col("nid"))
        val resFit = pq.fitFrozenResidual(e)
        val res = pq.queryIndexResidualDistributed(resFit,
          pq.annIndexResidual(resFit, e), qs, k = 10, nprobe = 4)
          .select(col("qid"), col("nid"))
        val ra = recallVsTruth(truth, raw)
          .select(col("qid"), col("n_true"), col("n_hit").as("raw_hit"),
            col("recall").as("recall_raw"))
        val rb = recallVsTruth(truth, res)
          .select(col("qid"), col("n_hit").as("res_hit"),
            col("recall").as("recall_residual"))
        ra.join(rb, Seq("qid"))
          .withColumn("lifted",
            when(col("res_hit") > col("raw_hit"), 1L).otherwise(0L))
      },
      Some(q275OracleChain(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, withRaw = true) +
        s""",
           |approxA AS (SELECT qid, nid FROM ranked WHERE rk <= 10),
           |approxR AS (SELECT qid, nid FROM rankedR WHERE rk <= 10),
           |btruth AS (
           |  SELECT qid, nid FROM (
           |    SELECT q.qid, p.vid AS nid,
           |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
           |        list_dot_product(q.qv, CAST(p.v AS DOUBLE[])) /
           |        (sqrt(list_dot_product(q.qv, q.qv)) *
           |         sqrt(list_dot_product(CAST(p.v AS DOUBLE[]), CAST(p.v AS DOUBLE[])))) DESC,
           |        p.vid) AS rk
           |    FROM q JOIN pts p ON p.vid <> q.qid) WHERE rk <= 10)
           |SELECT t.qid, count(*) AS n_true,
           |  CAST(count(a.nid) AS BIGINT) AS raw_hit,
           |  round(CAST(count(a.nid) AS DOUBLE) / count(*), 4) AS recall_raw,
           |  CAST(count(r.nid) AS BIGINT) AS res_hit,
           |  round(CAST(count(r.nid) AS DOUBLE) / count(*), 4) AS recall_residual,
           |  CAST(CASE WHEN count(r.nid) > count(a.nid) THEN 1 ELSE 0 END
           |    AS BIGINT) AS lifted
           |FROM btruth t
           |LEFT JOIN approxA a ON a.qid = t.qid AND a.nid = t.nid
           |LEFT JOIN approxR r ON r.qid = t.qid AND r.nid = t.nid
           |GROUP BY t.qid""".stripMargin)),

    // RESIDUAL-TIER CRUD CYCLE (q255 ∘ q261 on the residual fit): fit
    // frozen on the epoch, batch folded through the DISPATCHING
    // annIndex (the residual flag makes silent raw-encode impossible),
    // every epoch id ≡1 mod 5 deleted plus one never-indexed id, then
    // queried via the residual serve path. The oracle trains both fits
    // on the epoch only and runs assignment/encode/query over exactly
    // the survivors — hash equality proves the full
    // remove ∘ upsert == rebuild-from-frozen-fit cycle on the new tier.
    Q("q277_residual_index_cycle",
      (spark, dir) => {
        import spark.implicits._
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val epoch = e.filter(col("vec_id") % 4 =!= 0)
        val batch = e.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozenResidual(epoch)
        val deleted = epoch.filter(col("vec_id") % 5 === 1)
          .select(col("vec_id"))
          .unionByName(Seq(987654321L).toDF("vec_id"))
        val idx = pq.removeFromAnnIndex(
          pq.upsertAnnIndex(fit, pq.annIndex(fit, epoch), batch),
          deleted, "vec_id")
        val queries = epoch.unionByName(batch)
          .filter(col("vec_id") < 20 ||
            (col("vec_id") >= 10000000L && col("vec_id") < 10000020L))
        pq.queryIndexDistributed(fit, idx, queries, k = 10, nprobe = 4)
      },
      Some(q277Oracle(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, topK = 10, offset = 10000000L,
        queryPred = "vid < 20 OR (vid >= 10000000 AND vid < 10000020)",
        indexPred = "NOT (vid < 10000000 AND vid % 5 = 1)"))),

    // IVF CELL-BALANCE AUDIT — the operational metric an IVF deployment
    // watches: probe cost is bounded by the LARGEST probed cell, so a
    // skewed coarse quantizer silently turns nprobe/nCells pruning into
    // a full scan. Per cell: occupancy, integer micro-share of the
    // corpus, and the max/mean skew ratio (same value on every row —
    // the single number a monitor alerts on). Oracle replays the coarse
    // fit and the assignment census.
    Q("q278_ivf_cell_balance",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(e)
        val occ = pq.annIndex(fit, e)
          .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
        val tot = occ.agg(sum(col("n_vecs")).as("_t"),
          max(col("n_vecs")).as("_mx"),
          count(lit(1)).as("_nc"))
        occ.crossJoin(broadcast(tot))
          .select(col("cell"), col("n_vecs"),
            expr("n_vecs * 1000000 DIV _t").as("share_micro"),
            expr("_mx * _nc * 1000000 DIV _t").as("skew_micro"))
      },
      Some(kmeansAssignCtes(defaultPtsSql, nCells = 16, maxIter = 10)
        .toString +
        s""",
           |occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
           |  FROM afinal GROUP BY cell),
           |tt AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS t,
           |    CAST(max(n_vecs) AS BIGINT) AS mx,
           |    CAST(count(*) AS BIGINT) AS nc FROM occ)
           |SELECT CAST(cell AS INT) AS cell, n_vecs,
           |  CAST((n_vecs * 1000000) // t AS BIGINT) AS share_micro,
           |  CAST((mx * nc * 1000000) // t AS BIGINT) AS skew_micro
           |FROM occ, tt""".stripMargin)),

    // FILTERED VECTOR SEARCH — the production feature every vector
    // store grows: top-k among vectors satisfying a predicate. The
    // scale-correct form PRE-FILTERS the index (a semi-join before
    // scoring — k results guaranteed from the allowed set); the naive
    // form post-filters an unfiltered top-k and STARVES (≤ k survive).
    // Both run here side by side: `n_prefilter` is always k while
    // `postfilter_yield` shows what the naive form would have kept —
    // the starvation the pre-filter exists to fix. Oracle replays the
    // chain with elig restricted to the allowed ids for the pre-filter
    // leg and filters the unfiltered ranking for the naive leg.
    Q("q279_ann_filtered_search",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val qs = e.filter(col("vec_id") < 20)
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(e)
        val idx = pq.annIndex(fit, e)
        val allowed = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"))
        val pre = pq.queryIndexDistributed(fit,
          idx.join(allowed, Seq("vec_id"), "left_semi"), qs,
          k = 10, nprobe = 4)
        val post = pq.queryIndexDistributed(fit, idx, qs,
            k = 10, nprobe = 4)
          .join(allowed.select(col("vec_id").as("nid")), Seq("nid"),
            "left_semi")
        val a = pre.groupBy(col("qid"))
          .agg(count(lit(1)).as("n_prefilter"),
            max(col("approx_dot")).as("best_prefilter_dot"))
        val b = post.groupBy(col("qid"))
          .agg(count(lit(1)).as("postfilter_yield"))
        a.join(b, Seq("qid"), "left")
          .select(col("qid"), col("n_prefilter"), col("best_prefilter_dot"),
            coalesce(col("postfilter_yield"), lit(0L)).as("postfilter_yield"),
            (col("n_prefilter") - coalesce(col("postfilter_yield"), lit(0L)))
              .as("starved"))
      },
      Some(q105OracleChain(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10) +
        s""",
           |eligF AS (
           |  SELECT pr.qid, cf.vid AS nid
           |  FROM probes pr JOIN cafinal cf ON cf.cell = pr.cell
           |  WHERE cf.vid <> pr.qid AND cf.vid % 2 = 0),
           |contribF AS (
           |  SELECT e.qid, e.nid, a.s, ad.dot
           |  FROM eligF e JOIN safinal a ON a.vid = e.nid
           |  JOIN adc ad ON ad.qid = e.qid AND ad.s = a.s AND ad.cidx = a.cell),
           |scoresF AS (
           |  SELECT qid, nid,
           |    list_reduce(list_prepend(0.0, list(dot ORDER BY s)), (a,b) -> a + b) AS approx_dot
           |  FROM contribF GROUP BY qid, nid),
           |rankedF AS (
           |  SELECT qid, nid, round(approx_dot, 6) AS approx6,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dot DESC, nid) AS rk
           |  FROM scoresF),
           |pre AS (SELECT qid, count(*) AS n_prefilter,
           |    max(approx6) AS best_prefilter_dot
           |  FROM rankedF WHERE rk <= 10 GROUP BY qid),
           |post AS (SELECT qid, CAST(count(*) AS BIGINT) AS postfilter_yield
           |  FROM ranked WHERE rk <= 10 AND nid % 2 = 0 GROUP BY qid)
           |SELECT p.qid, p.n_prefilter, p.best_prefilter_dot,
           |  coalesce(po.postfilter_yield, 0) AS postfilter_yield,
           |  p.n_prefilter - coalesce(po.postfilter_yield, 0) AS starved
           |FROM pre p LEFT JOIN post po ON po.qid = p.qid""".stripMargin)),

    // ANN REFIT / REBALANCE CYCLE (r16 missing #3) — closing the loop
    // q278's audit opens: a drift batch (3 extra copies of every
    // vector in vec 0's cell — no float arithmetic, so both engines
    // see identical points) folds into the old-fit index and blows the
    // hot cell past the 2×-mean bar (refit_triggered); the cycle then
    // refits on CURRENT data (new fit_id), REBUILDS under the new fit,
    // and proves (a) fold-from-scratch under the new fit == rebuild,
    // row-for-row on (cell, code) — the q255 per-row-function argument
    // survives the refit; (b) the drifted skew actually improves
    // (refit_improves); (c) the OLD index loudly refuses an upsert
    // under the NEW fit — the mixed-fit raise_error guard's POSITIVE
    // test (its absence would let a refit silently corrupt serving).
    // Oracle replays BOTH k-means fits (epoch; epoch ∪ drift via the
    // prefixed chain), the drift derivation from the old fit's own
    // assignment, and the skew arithmetic; parity/guard verdicts are
    // pinned constants the Spark side must EARN at run time.
    Q("q308_ann_refit_cycle",
      (spark, dir) => {
        import spark.implicits._
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit0 = pq.fitFrozen(e)
        val idx0 = graft.operators.OperatorCaches.track(
          pq.annIndex(fit0, e).persist())
        val hotCell = idx0.filter(col("vec_id") === 0L)
          .select(col("cell")).first().getInt(0)
        val driftE = e
          .join(idx0.filter(col("cell") === hotCell).select(col("vec_id")),
            Seq("vec_id"), "left_semi")
          .select(explode(sequence(lit(1L), lit(3L))).as("_r"),
            col("vec_id"), col("embedding"))
          .select((col("vec_id") + col("_r") * 1000000L).as("vec_id"),
            col("embedding"))
        val idx1 = graft.operators.OperatorCaches.track(
          pq.upsertAnnIndex(fit0, idx0, driftE).persist())
        def skew(idx: org.apache.spark.sql.DataFrame): Long = idx
          .groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .agg(expr("max(n) * count(*) * 1000000 DIV sum(n)"))
          .first().getLong(0)
        val s0 = skew(idx0)
        val s1 = skew(idx1)
        val current = e.unionByName(driftE)
        val fit1 = pq.fitFrozen(current)
        require(fit1.fitId != fit0.fitId,
          "refit on drifted data must produce a new fit_id")
        val rebuild = graft.operators.OperatorCaches.track(
          pq.annIndex(fit1, current).persist())
        val fold = pq.upsertAnnIndex(fit1, pq.annIndex(fit1, e), driftE)
        val mismatch = fold.as("f")
          .join(rebuild.as("r"), Seq("vec_id"), "full_outer")
          .filter(col("f.cell").isNull || col("r.cell").isNull ||
            col("f.cell") =!= col("r.cell") ||
            col("f.code") =!= col("r.code"))
          .count()
        val s2 = skew(rebuild)
        // the guard's positive test: the OLD index must refuse a fold
        // under the NEW fit (count() forces the per-row filter guard)
        val guardFired =
          try { pq.upsertAnnIndex(fit1, idx1, driftE).count(); 0L }
          catch {
            case ex: Throwable =>
              val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
                .takeWhile(_ != null).take(10)
                .flatMap(t => Option(t.getMessage)).mkString(" ")
              if (msgs.contains("upsertAnnIndex")) 1L else throw ex
          }
        Seq(
          ("skew_before_micro", s0),
          ("skew_after_drift_micro", s1),
          ("refit_triggered", if (s1 > 2000000L) 1L else 0L),
          ("skew_after_refit_micro", s2),
          ("refit_improves", if (s2 < s1) 1L else 0L),
          ("fold_rebuild_mismatch", mismatch),
          ("old_index_refuses_new_fit", guardFired))
          .toDF("check", "value")
      },
      Some(kmeansAssignCtes(defaultPtsSql, nCells = 16, maxIter = 10)
        .toString + ",\n" +
        s"""hot AS (SELECT cell FROM afinal WHERE vid = 0),
           |drift AS (
           |  SELECT p.vid + 1000000 * g.r AS vid, p.v
           |  FROM pts p JOIN afinal a ON a.vid = p.vid JOIN hot h
           |    ON a.cell = h.cell
           |  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS r) g),
           |""".stripMargin +
        kmeansAssignCtes(
          """SELECT vid, v FROM pts UNION ALL SELECT vid, v FROM drift""",
          nCells = 16, maxIter = 10, pfx = "n").toString + ",\n" +
        s"""occ0 AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
           |  FROM afinal GROUP BY cell),
           |occ1 AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM (
           |    SELECT vid, cell FROM afinal
           |    UNION ALL
           |    SELECT d.vid, a.cell FROM drift d
           |      JOIN afinal a ON a.vid = d.vid % 1000000) GROUP BY cell),
           |occ2 AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
           |  FROM nafinal GROUP BY cell),
           |sk AS (SELECT
           |  (SELECT CAST(max(n) * count(*) * 1000000 // sum(n) AS BIGINT)
           |    FROM occ0) AS s0,
           |  (SELECT CAST(max(n) * count(*) * 1000000 // sum(n) AS BIGINT)
           |    FROM occ1) AS s1,
           |  (SELECT CAST(max(n) * count(*) * 1000000 // sum(n) AS BIGINT)
           |    FROM occ2) AS s2)
           |SELECT 'skew_before_micro' AS check, s0 AS value FROM sk
           |UNION ALL SELECT 'skew_after_drift_micro', s1 FROM sk
           |UNION ALL SELECT 'refit_triggered',
           |  CASE WHEN s1 > 2000000 THEN 1 ELSE 0 END FROM sk
           |UNION ALL SELECT 'skew_after_refit_micro', s2 FROM sk
           |UNION ALL SELECT 'refit_improves',
           |  CASE WHEN s2 < s1 THEN 1 ELSE 0 END FROM sk
           |UNION ALL SELECT 'fold_rebuild_mismatch', 0
           |UNION ALL SELECT 'old_index_refuses_new_fit', 1""".stripMargin)),

    // ANN INDEX DATA CARD (ProductQuantization.annIndexCard — r17
    // missing #6, q317's card discipline on the ANN side): one-row
    // operational report off the MAINTAINED index after a full CRUD
    // cycle (epoch build → shifted-id batch upsert under the frozen
    // fit → deletion of the %5==1 epoch ids) — vector/cell counts,
    // fit-version cardinality, EXACT occupancy quantiles over
    // distinct-occupancy cumulative counts (≤ nCells rows at any
    // index size), and q278's skew ratio. Deletion-aware: a stale
    // index moves every field. Oracle replays the k-means fit and the
    // net census; the batch rows are id-shifted copies, so their
    // cells replay from the epoch assignment.
    Q("q323_ann_index_card",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(e)
        val batch = e.select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"))
        val deleted = e.filter(col("vec_id") % 5 === 1)
          .select(col("vec_id"))
        val idx = pq.removeFromAnnIndex(
          pq.upsertAnnIndex(fit, pq.annIndex(fit, e), batch),
          deleted, "vec_id")
        pq.annIndexCard(idx)
      },
      Some(kmeansAssignCtes(defaultPtsSql, nCells = 16, maxIter = 10)
        .toString +
        s""",
           |net AS (SELECT vid, cell FROM afinal WHERE vid % 5 <> 1
           |  UNION ALL SELECT vid + 10000000, cell FROM afinal),
           |occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
           |  FROM net GROUP BY 1),
           |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nv,
           |    CAST(count(*) AS BIGINT) AS nc,
           |    CAST(max(n) AS BIGINT) AS mx,
           |    CAST(min(n) AS BIGINT) AS mn FROM occ),
           |dc AS (SELECT n, count(*) AS c FROM occ GROUP BY 1),
           |cum AS (SELECT n, sum(c) OVER (ORDER BY n) AS cc FROM dc),
           |p50 AS (SELECT min(n) AS v FROM cum, tt
           |  WHERE cc >= (nc * 50 + 99) // 100),
           |p90 AS (SELECT min(n) AS v FROM cum, tt
           |  WHERE cc >= (nc * 90 + 99) // 100)
           |SELECT nv AS n_vectors, nc AS n_cells,
           |  CAST(1 AS BIGINT) AS n_fit_ids,
           |  p50.v AS occ_p50, p90.v AS occ_p90,
           |  mx AS max_occ, mn AS min_occ,
           |  CAST(mx * nc * 1000000 // nv AS BIGINT) AS skew_micro
           |FROM tt, p50, p90""".stripMargin)),

    // ANN EPOCH SHARD MERGE (ProductQuantization.mergeAnnIndex — the
    // parallel-reindex path q311/q318 gate for text, closed for
    // vectors per the r18 verdict): two shards encode DISJOINT vector
    // sets under ONE frozen fit, merge is a bare union behind per-row
    // fit_id guards, and top-k serve off the merged index must
    // hash-equal a whole-corpus recompute under the same fit. The
    // fixture is q255's exactly (epoch + re-keyed batch), so the
    // shared oracle ALSO proves merge == upsert == full rebuild —
    // three maintenance paths, one hash. The mixed-fit refusal is the
    // in-query negative leg: a batch shard encoded under a SECOND fit
    // (different seed corpus → different fit_id) must raise per row;
    // a silent union here would corrupt rankings undetectably, so the
    // query THROWS if the guard stays quiet.
    Q("q327_ann_shard_merge",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val epoch = e.filter(col("vec_id") % 4 =!= 0)
        val batch = e.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(epoch)
        val merged = pq.mergeAnnIndex(fit,
          pq.annIndex(fit, epoch), pq.annIndex(fit, batch))
        // negative leg: a shard encoded under a different frozen fit
        // must refuse loudly (the guard fires per row, in a filter)
        val fit2 = pq.fitFrozen(batch)
        require(fit2.fitId != fit.fitId,
          "q327 fixture defeated: the two fits collided on fit_id")
        val guardFired =
          try {
            pq.mergeAnnIndex(fit, pq.annIndex(fit, epoch),
              pq.annIndex(fit2, batch)).count()
            false
          } catch {
            case ex: Throwable =>
              Iterator.iterate(ex: Throwable)(_.getCause)
                .takeWhile(_ != null).take(10)
                .flatMap(t => Option(t.getMessage))
                .exists(_.contains("mergeAnnIndex"))
          }
        if (!guardFired) throw new IllegalStateException(
          "q327: mixed-fit merge did NOT refuse — the fit_id guard is dead")
        val queries = epoch.unionByName(batch)
          .filter(col("vec_id") < 20 ||
            (col("vec_id") >= 10000000L && col("vec_id") < 10000020L))
        pq.queryIndexDistributed(fit, merged, queries, k = 10, nprobe = 4)
      },
      Some(q255Oracle(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, topK = 10, offset = 10000000L,
        queryPred = "vid < 20 OR (vid >= 10000000 AND vid < 10000020)"))),

    // STREAMING ANN INDEX CDC (ProductQuantization.applyCdcAnn — the
    // dense analog of q314/q321, r18 verdict missing #3): vector I/U/D
    // events fold per micro-batch into the VERSIONED PARTITIONED
    // (vec_id, cell, code, fit_id) artifact under the frozen fit, and
    // post-stream top-k serve must hash-equal a whole-corpus recompute
    // over the NET vector set. The v0 index starts WRONG three ways —
    // junk vectors that must be deleted, corrupted (negated) embeddings
    // that updates must re-encode, and the batch vectors absent until
    // inserted — so every op kind is load-bearing: the net index rows
    // equal annIndex(fit, epoch ∪ batch) exactly, which is q255's
    // index, so q255's oracle gates all of streaming fold, layout
    // read-back, and serve in one hash. Per-batch I/O touches only the
    // batch ids' hash partitions (manifest-by-reference carry).
    Q("q328_streaming_ann_cdc",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val ia = graft.operators.IndexArtifact
        val epoch = e.filter(col("vec_id") % 4 =!= 0)
        val batch = e.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
        val corruptPred = col("vec_id") % 9 === 2
        val v0Corpus = epoch.select(col("vec_id"),
            when(corruptPred, transform(col("embedding"), x => -x))
              .otherwise(col("embedding")).as("embedding"))
          .unionByName(e.filter(col("vec_id") % 5 === 0)
            .select((col("vec_id") + 20000000L).as("vec_id"),
              col("embedding")))
        val fit = pq.fitFrozen(epoch)
        val updates = epoch.filter(corruptPred)
          .select(lit("U").as("op"), col("vec_id"), col("embedding"))
        val inserts = batch
          .select(lit("I").as("op"), col("vec_id"), col("embedding"))
        val deletes = e.filter(col("vec_id") % 5 === 0)
          .select(lit("D").as("op"), (col("vec_id") + 20000000L).as("vec_id"),
            lit(null).cast("array<float>").as("embedding"))
        val cdc = updates.unionByName(inserts).unionByName(deletes)
        val inDir = s"/tmp/graft-anncdc-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(cdc, "vec_id", s"$dir/embeddings_anncdc")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          cdc.repartition(3, col("op")).write.mode("overwrite")
            .parquet(inDir)
        val root = freshRunDir(s"$inDir-state")
        val m = pq.annMember(parts = 8)
        val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", 2)
        val version = new java.util.concurrent.atomic.AtomicInteger(0)
        try {
          ia.writeFull(pq.annIndex(fit, v0Corpus), s"$root/idx", m, 0)
          val schema = spark.read.parquet(inDir).schema
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
            .writeStream
            .option("checkpointLocation", s"$root/chk")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame,
                _: Long) =>
              graft.operators.OperatorCaches.scoped {
                val n = version.get()
                pq.applyCdcAnn(fit, s"$root/idx", m, b,
                  "vec_id", "embedding", "op",
                  fromVersion = n, toVersion = n + 1)
                version.incrementAndGet()
              }
              ()
            }
            .start()
          try q.processAllAvailable() finally q.stop()
          // post-stream maintenance: compact the fold fragments to one
          // physical version and GC the dead ones — the long-running-
          // stream hygiene pair; the serve below reads the compacted
          // artifact, so the gate proves rows survive both
          val v = version.get()
          ia.compact(spark, s"$root/idx", m, v, v + 1)
          val gone = ia.gcBelow(spark, s"$root/idx", m, v + 1)
          if (gone.isEmpty) throw new IllegalStateException(
            "q328: GC found nothing to delete — the compaction leg is dead")
          version.incrementAndGet()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
        val fin = ia.read(spark, s"$root/idx", m, version.get())
        val queries = epoch.unionByName(batch)
          .filter(col("vec_id") < 20 ||
            (col("vec_id") >= 10000000L && col("vec_id") < 10000020L))
        pq.queryIndexDistributed(fit, fin, queries, k = 10, nprobe = 4)
      },
      Some(q255Oracle(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, topK = 10, offset = 10000000L,
        queryPred = "vid < 20 OR (vid >= 10000000 AND vid < 10000020)"))),

    // STREAMING ANN QUERY-AT-INGEST — the dense analog of q245:
    // query vectors arrive as a stream and rank against the STATIC
    // frozen-fit index via the UNCHANGED serve path
    // (queryIndexDistributed is stream-safe by construction: stateless
    // per-row probe/table UDFs, a stream-static cell join, and ONE
    // stateful bounded-heap aggregation in Complete mode). Query-at-
    // ingest is now closed on all three retrieval legs: lexical
    // (q245), hybrid (q257), dense (here). Oracle = the q105 chain:
    // streaming == batch, hash-equal.
    Q("q280_streaming_ann_ingest",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val qs = e.filter(col("vec_id") < 20)
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(e)
        val idx = pq.annIndex(fit, e)
        val inDir = s"/tmp/graft-annstream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(qs, "vec_id", s"$dir/embeddings_annstream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          qs.write.mode("overwrite").parquet(inDir)
        graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => pq.queryIndexDistributed(fit, idx, stream,
            k = 10, nprobe = 4),
          org.apache.spark.sql.streaming.OutputMode.Complete,
          s"q280_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
      },
      Some(q105OracleChain(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10) +
        s"""
           |SELECT qid, nid, approx6 AS approx_dot, CAST(rk AS INT) AS rank
           |FROM ranked WHERE rk <= 10""".stripMargin)),

    // IVF (k-means cells, nprobe probing) approximate top-k — ORACLED,
    // k-means included: see q42Oracle.
    Q("q42_cosine_ivf_topk",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        Similarity.ivfTopK(e.filter(col("vec_id") < 20), e, 5)
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_results"),
            round(max(col("sim")), 6).as("best_sim"))
      },
      Some(q42Oracle(nCells = 16, nprobe = 4, k = 5, maxIter = 10))),

    // Semantic dedup (SemDeDup): the embedding-space second pass after
    // LSH literal dedup — k-means cells, intra-cell cosine ≥ 0.95 pairs,
    // keep-lowest-id verdicts. Runs on the doubled corpus (+100000 exact
    // copies) so every vector provably has a semantic dup in its own
    // cell. nCells = 64, not the IVF default 16: SemDeDup's own recipe
    // scales cell count with the corpus, and the intra-cell quadratic
    // term is the whole cost (16 cells over the 4k doubled corpus is
    // ~250/cell = 500k scored pairs; 64 cells cuts that 16×).
    // Oracle replays fit + assignment + pair verdicts end-to-end.
    Q("q162_semantic_dedup",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val doubledCorpus = e.unionByName(
          e.withColumn("vec_id", col("vec_id") + 100000L))
        Similarity.semanticDedup(doubledCorpus, 0.95, nCells = 64)
      },
      Some(q162Oracle(threshold = 0.95, nCells = 64, maxIter = 10))),

    // STREAMING semantic dedup — the q152→q156 pattern applied to q162:
    // the incoming batch arrives as a file stream, assigns to the
    // EXISTING corpus's saved cell index (stateless UDF — centers fit
    // once, batch side), stream-static-joins only its cell's members,
    // and one Complete-mode collect_set aggregation yields per-incoming
    // semantic-dup counts. Incoming = exact copies (%3==0, +200000,
    // cosine 1 with their source) and first-component-flipped variants
    // (%3==1, +300000 — cosine usually ≥0.95 but cell assignment can
    // move, both decided deterministically and oracle-replayed).
    Q("q170_streaming_semantic_dedup",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val flipped = concat(
          array((-element_at(col("embedding"), 1)).cast("float")),
          expr("slice(embedding, 2, size(embedding) - 1)"))
        val incoming = e.filter(col("vec_id") % 3 === 0)
          .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
          .unionByName(e.filter(col("vec_id") % 3 === 1)
            .select((col("vec_id") + 300000L).as("vec_id"),
              flipped.as("embedding")))
        // fixture keyed off the INCOMING frame's own fingerprint (not
        // the base table's): the written content is a code-derived
        // transform, so keying off `e` would silently reuse a stale
        // fixture after a derivation edit (r11 ADVICE)
        val inDir = s"/tmp/graft-semstream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(incoming, "vec_id", s"$dir/embeddings_semstream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          incoming.write.mode("overwrite").parquet(inDir)
        val (index, centers) = Similarity.semanticIndex(e)
        val members = index.localCheckpoint(true) // static side, computed once
        val matches = graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => Similarity.semanticDupMatches(stream, members, centers, 0.95),
          org.apache.spark.sql.streaming.OutputMode.Complete,
          s"q170_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
        incoming.select(col("vec_id").as("in_id"))
          .join(matches, Seq("in_id"), "left")
          .select(col("in_id"),
            coalesce(col("n_sem_dups"), lit(0L)).as("n_sem_dups"))
      },
      Some(q170Oracle(threshold = 0.95, nCells = 16, maxIter = 10))),

    // Vector statistics: norms per label (higher-order fns, no UDF).
    Q("q43_embedding_stats",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        e.groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            round(avg(VectorFunctions.norm(col("embedding"))), 6).as("avg_norm"),
            max(size(col("embedding"))).as("dim"))
      },
      Some("""SELECT label, COUNT(*) AS n,
             |ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
             |  CAST(embedding AS DOUBLE[])))), 6) AS avg_norm,
             |CAST(MAX(len(embedding)) AS INT) AS dim
             |FROM embeddings GROUP BY label""".stripMargin)),

    // Embedding near-duplicate pairs via SRP buckets, on a corpus doubled
    // with exact copies (shifted ids) so duplicates exist by construction.
    // Oracled like q41: the 24-plane Rademacher matrix is embedded from
    // the SAME splitmix64 derivation, buckets are plain 8-bit sig slices
    // (no engine-specific hashing anywhere on the candidate path), the
    // threshold is applied to the unrounded sim exactly as the operator
    // does, and only then rounded for output.
    Q("q44_embedding_neardup",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val doubledCorpus = e.unionByName(
          e.withColumn("vec_id", col("vec_id") + 10000L))
        Similarity.cosineDupPairs(doubledCorpus, 0.95)
          .agg(count(lit(1)).as("n_dup_pairs"),
            round(min(col("sim")), 6).as("min_sim"))
      },
      Some(s"""WITH signs AS (
             |  SELECT plane, CAST(sv AS DOUBLE[]) AS sv
             |  FROM (VALUES ${srpSignRows(planes = 24, dims = 64, seed = 42L)}) s(plane, sv)),
             |base AS (
             |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings),
             |normed AS (
             |  SELECT id, v, sqrt(list_dot_product(v, v)) AS vnorm FROM base
             |  WHERE sqrt(list_dot_product(v, v)) > 0),
             |accs AS (
             |  SELECT id, plane, list_dot_product(v, sv) AS acc
             |  FROM normed CROSS JOIN signs),
             |sigs AS (
             |  SELECT id,
             |    sum(CASE WHEN acc >= 0 THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS sig
             |  FROM accs GROUP BY id),
             |banded AS (
             |  SELECT id, band, (sig >> (band * 8)) & 255 AS bucket
             |  FROM sigs CROSS JOIN (VALUES (0),(1),(2)) b(band)),
             |cand AS (
             |  SELECT DISTINCT a.id AS idA, b.id AS idB
             |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
             |  WHERE a.id < b.id),
             |pairs AS (
             |  SELECT idA, idB,
             |    list_dot_product(na.v, nb.v) / (na.vnorm * nb.vnorm) AS sim
             |  FROM cand JOIN normed na ON na.id = idA JOIN normed nb ON nb.id = idB)
             |SELECT count(*) AS n_dup_pairs,
             |  round(min(round(sim, 6)), 6) AS min_sim
             |FROM pairs WHERE sim >= 0.95""".stripMargin)),

    // Product quantization: 64-dim float vectors → 8-int codes (32×
    // compression), ADC top-10 over the compressed index only.
    Q("q46_pq_adc_topk",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val model = graft.operators.ProductQuantization.train(e)
        val index = graft.operators.ProductQuantization.encode(e, model)
        graft.operators.ProductQuantization
          .adcTopK(e.filter(col("vec_id") < 20), index, model, 10)
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_results"),
            round(max(col("approx_dot")), 4).as("best_approx_dot"))
      },
      Some(q46Oracle(m = 8, subDim = 8, kCent = 16, maxIter = 10,
        topK = 10))),

    // IVF-ADC composition (the production ANN shape): probe 4 of 16
    // coarse cells, ADC-score only those cells' PQ codes — ORACLED with
    // BOTH k-means fits unrolled in one SQL chain (q105Oracle).
    Q("q105_ivf_pq_topk",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        graft.operators.ProductQuantization
          .ivfAdcTopK(e.filter(col("vec_id") < 20), e, 10)
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_results"),
            round(max(col("approx_dot")), 4).as("best_approx_dot"))
      },
      Some(q105Oracle(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, topK = 10))),

    // RETRIEVAL-QUALITY gate for IVF: recall@10 of the probed index vs
    // the exact brute-force truth, per query. The first question a user
    // asks of an ANN index is recall, not determinism — this puts the
    // answer under the hash gate (both the approximate chain and the
    // truth are replayed in SQL, so the recall numbers are exact, not a
    // flaky sampled metric). nprobe=4 of 16 cells: recall < 1.0 by
    // construction for some queries — the gate pins the exact value.
    Q("q111_ivf_recall",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 20)
        recallVsTruth(
          Similarity.bruteTopK(qs, e, 10).select(col("qid"), col("nid")),
          Similarity.ivfTopK(qs, e, 10).select(col("qid"), col("nid")))
      },
      Some(q111Oracle(nCells = 16, nprobe = 4, maxIter = 10, k = 10))),

    // Same recall gate for the COMPRESSED index (IVF-ADC): quantization
    // loses information on top of cell pruning, so this measures the
    // full production trade — probe 4/16 cells, score 8×16-code PQ
    // approximations, and pin exactly how much of the true top-10
    // survives.
    Q("q112_ivf_adc_recall",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 20)
        recallVsTruth(
          Similarity.bruteTopK(qs, e, 10).select(col("qid"), col("nid")),
          graft.operators.ProductQuantization.ivfAdcTopK(qs, e, 10)
            .select(col("qid"), col("nid")))
      },
      Some(q112Oracle(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, k = 10))),

    // DISTRIBUTED corpus-vs-corpus IVF-ADC: every vector queries the
    // index with queries staying distributed end-to-end (executor-side
    // probe ranking + ADC tables, one cell-keyed shuffle, bounded-heap
    // top-k) — the 100 TB form of q105, whose query batch is driver-side
    // by contract. The oracle is the q105 chain evaluated over ALL
    // queries: any divergence between the distributed plan and the
    // driver-side arithmetic (probe ties, fold order, rank ties) breaks
    // the hash.
    Q("q113_ann_corpus_join",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        // max of the ALREADY-6-rounded score, no second rounding: a
        // 6-decimal value sits exactly on a 4-decimal half boundary ~1%
        // of the time, where Spark (HALF_UP on the decimal string) and
        // DuckDB (binary-value round) disagree — at 500 queries that is
        // a guaranteed hash break, not a tail risk (bitten in round 6:
        // qid 67's 0.30365 → 0.3037 vs 0.3036)
        graft.operators.ProductQuantization
          .ivfAdcTopKDistributed(e, e, 10)
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_results"),
            max(col("approx_dot")).as("best_approx_dot"))
      },
      Some(q105OracleChain(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, queryPred = "TRUE") +
        s"""
           |SELECT qid, count(*) AS n_results, max(approx6) AS best_approx_dot
           |FROM ranked WHERE rk <= 10 GROUP BY qid""".stripMargin)),

    // TWO-STAGE ANN SERVE PATH (ProductQuantization.rerankTopK): ADC
    // shortlist (3k = 15 candidates from the compressed codes) → EXACT
    // cosine re-rank over only those 15 original vectors per query —
    // the standard IVF-PQ answer-quality recipe. Row-level gate: every
    // (qid, nid, sim, rank) of the re-ranked head must match the
    // oracle's replay of shortlist + exact re-scoring; ranks order on
    // the UNROUNDED sim (round-once discipline). The expensive
    // full-vector join touches |q|·15 rows, never the corpus.
    Q("q267_ann_rerank_topk",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(e)
        val idx = pq.annIndex(fit, e)
        pq.rerankTopK(fit, idx, e.filter(col("vec_id") < 20), e,
          k = 5, shortlist = 15, nprobe = 4)
      },
      Some(q105OracleChain(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10) +
        s"""
           |, short AS (SELECT qid, nid FROM ranked WHERE rk <= 15),
           |$exactRerankCtes
           |SELECT qid, nid, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
           |FROM rr WHERE rank <= 5""".stripMargin)),

    // THE FULL PRODUCTION SERVE PATH — residual-index ADC shortlist →
    // exact cosine re-rank, composed from q275's fit and q267's second
    // stage with ZERO new code: rerankTopK's stage 1 dispatches on the
    // fit's residual flag, so the best quantizer feeds the exact head.
    // Oracle = the residual chain's shortlist + the exact re-scoring.
    Q("q282_residual_rerank_topk",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozenResidual(e)
        val idx = pq.annIndex(fit, e)
        pq.rerankTopK(fit, idx, e.filter(col("vec_id") < 20), e,
          k = 5, shortlist = 15, nprobe = 4)
      },
      Some(q275OracleChain(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10) +
        s""",
           |short AS (SELECT qid, nid FROM rankedR WHERE rk <= 15),
           |$exactRerankCtes
           |SELECT qid, nid, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
           |FROM rr WHERE rank <= 5""".stripMargin)),

    // RE-RANK RECALL AUDIT — the value receipt for q267's second stage:
    // recall@5 vs brute truth for the raw ADC top-5 and for the
    // re-ranked top-5 from the SAME 15-candidate shortlist, side by
    // side per query. Re-rank recall is provably ≥ ADC recall (any
    // true-top-5 member in the shortlist must survive an exact
    // re-scoring — fewer than 5 corpus vectors beat it globally, so
    // fewer than 5 shortlist members can), and `lifted` marks the
    // queries where the exact pass actually recovered a neighbor the
    // quantized ordering had pushed past rank 5.
    Q("q268_ann_rerank_recall",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val qs = e.filter(col("vec_id") < 20)
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(e)
        val idx = pq.annIndex(fit, e)
        val truth = Similarity.bruteTopK(qs, e, 5)
          .select(col("qid"), col("nid"))
        val adc = pq.queryIndexDistributed(fit, idx, qs, k = 5, nprobe = 4)
          .select(col("qid"), col("nid"))
        val rr = pq.rerankTopK(fit, idx, qs, e, k = 5, shortlist = 15,
          nprobe = 4).select(col("qid"), col("nid"))
        val ra = recallVsTruth(truth, adc)
          .select(col("qid"), col("n_true"), col("n_hit").as("adc_hit"),
            col("recall").as("recall_adc"))
        val rb = recallVsTruth(truth, rr)
          .select(col("qid"), col("n_hit").as("rr_hit"),
            col("recall").as("recall_rerank"))
        ra.join(rb, Seq("qid"))
          .withColumn("lifted",
            when(col("rr_hit") > col("adc_hit"), 1L).otherwise(0L))
      },
      Some(q105OracleChain(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10) +
        s"""
           |, adc5 AS (SELECT qid, nid FROM ranked WHERE rk <= 5),
           |short AS (SELECT qid, nid FROM ranked WHERE rk <= 15),
           |exact AS (
           |  SELECT sh.qid, sh.nid,
           |    list_dot_product(q.qv, CAST(p.v AS DOUBLE[])) /
           |      (sqrt(list_dot_product(q.qv, q.qv)) *
           |       sqrt(list_dot_product(CAST(p.v AS DOUBLE[]), CAST(p.v AS DOUBLE[])))) AS sim
           |  FROM short sh JOIN q ON q.qid = sh.qid
           |  JOIN pts p ON p.vid = sh.nid),
           |rr5 AS (SELECT qid, nid FROM (
           |  SELECT qid, nid,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rrk
           |  FROM exact) WHERE rrk <= 5),
           |btruth AS (
           |  SELECT qid, nid FROM (
           |    SELECT q.qid, p.vid AS nid,
           |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
           |        list_dot_product(q.qv, CAST(p.v AS DOUBLE[])) /
           |        (sqrt(list_dot_product(q.qv, q.qv)) *
           |         sqrt(list_dot_product(CAST(p.v AS DOUBLE[]), CAST(p.v AS DOUBLE[])))) DESC,
           |        p.vid) AS rk
           |    FROM q JOIN pts p ON p.vid <> q.qid) WHERE rk <= 5)
           |SELECT t.qid, count(*) AS n_true,
           |  CAST(count(a.nid) AS BIGINT) AS adc_hit,
           |  round(CAST(count(a.nid) AS DOUBLE) / count(*), 4) AS recall_adc,
           |  CAST(count(r.nid) AS BIGINT) AS rr_hit,
           |  round(CAST(count(r.nid) AS DOUBLE) / count(*), 4) AS recall_rerank,
           |  CAST(CASE WHEN count(r.nid) > count(a.nid) THEN 1 ELSE 0 END AS BIGINT) AS lifted
           |FROM btruth t
           |LEFT JOIN adc5 a ON a.qid = t.qid AND a.nid = t.nid
           |LEFT JOIN rr5 r ON r.qid = t.qid AND r.nid = t.nid
           |GROUP BY t.qid""".stripMargin)),

    // INCREMENTAL ANN MAINTENANCE (r15 missing #2) — the q242
    // sufficient-statistics discipline applied to the dense tier: the
    // coarse + PQ fits FREEZE on the epoch (fitFrozen — versioned by a
    // deterministic fit_id), the epoch index is built once (annIndex),
    // and a daily batch of re-keyed vectors folds in WITHOUT refit or
    // epoch re-encode (upsertAnnIndex; a mixed-fit union raise_errors
    // per row). Queries — epoch AND batch members — rank against the
    // folded index via the prebuilt-index serve path
    // (queryIndexDistributed). The oracle replays the fits over the
    // EPOCH only and the assignment/encode/query stages over the union:
    // hash equality proves fold == full rebuild from the same frozen
    // fit, and would break if maintenance ever refit on the union.
    Q("q255_incremental_ann_index",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val epoch = e.filter(col("vec_id") % 4 =!= 0)
        val batch = e.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(epoch)
        val idx = pq.upsertAnnIndex(fit, pq.annIndex(fit, epoch), batch)
        val queries = epoch.unionByName(batch)
          .filter(col("vec_id") < 20 ||
            (col("vec_id") >= 10000000L && col("vec_id") < 10000020L))
        pq.queryIndexDistributed(fit, idx, queries, k = 10, nprobe = 4)
      },
      Some(q255Oracle(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, topK = 10, offset = 10000000L,
        queryPred = "vid < 20 OR (vid >= 10000000 AND vid < 10000020)"))),

    // ANN INDEX DELETION (ProductQuantization.removeFromAnnIndex) —
    // the q254 discipline on the dense tier: the pipeline's dedup
    // removes vectors, and because index rows are per-row functions of
    // the FROZEN fit there are no stats to adjust — delete is an
    // anti-join, composed here with the q255 upsert (the full
    // maintain-then-curate cycle: fit frozen on epoch, batch folded,
    // every id ≡ 1 mod 5 deleted plus one never-indexed id — delete
    // must be idempotent). The oracle keeps the FIT trained on the
    // full epoch (deletion is an index event, not a refit) while the
    // assignment/encode stages run over the survivors only: hash
    // equality proves delete == rebuild from the same frozen fit.
    Q("q261_ann_index_deletion",
      (spark, dir) => {
        import spark.implicits._
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val epoch = e.filter(col("vec_id") % 4 =!= 0)
        val batch = e.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(epoch)
        val idx = pq.upsertAnnIndex(fit, pq.annIndex(fit, epoch), batch)
        val deleted = epoch.select(col("vec_id"))
          .unionByName(batch.select(col("vec_id")))
          .filter(col("vec_id") % 5 === 1)
          .unionByName(Seq(77777777L).toDF("vec_id"))
        val pruned = pq.removeFromAnnIndex(idx, deleted, "vec_id")
        val queries = epoch.unionByName(batch)
          .filter((col("vec_id") < 20 ||
            (col("vec_id") >= 10000000L && col("vec_id") < 10000020L)) &&
            col("vec_id") % 5 =!= 1)
        pq.queryIndexDistributed(fit, pruned, queries, k = 10, nprobe = 4)
      },
      Some(q255Oracle(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, topK = 10, offset = 10000000L,
        queryPred = "(vid < 20 OR (vid >= 10000000 AND vid < 10000020))" +
          " AND vid % 5 <> 1",
        indexPred = "vid % 5 <> 1"))),

    // SRP-LSH recall@10 — the third ANN family's quality gate (q111 IVF,
    // q112 IVF-ADC): 16 planes / 4-bit bands on random 64-dim data is a
    // coarse filter, so recall is honestly LOW for many queries; the gate
    // pins the exact per-query value rather than asserting a bound.
    Q("q114_srp_recall",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 20)
        recallVsTruth(
          Similarity.bruteTopK(qs, e, 10).select(col("qid"), col("nid")),
          Similarity.srpTopK(qs, e, 10).select(col("qid"), col("nid")))
      },
      Some(q114Oracle(planes = 16, bandBits = 4, seed = 42L, k = 10))),

    // REAL multimodal decode through the stock JDK stacks: the builders
    // emit genuine compressed PNGs (zlib IDAT, real CRCs) and PCM WAVs
    // whose pixel/sample values are integer functions of doc_id;
    // ImageIO / AudioSystem decode them back and the query aggregates the
    // decoded SUMS — the oracle recomputes pixel(x,y) and sample(i)
    // directly in SQL (generate_series over the deterministic dims), so
    // an encoder, zlib, byte-offset, or sign bug anywhere in the round
    // trip breaks the hash. MP4 rows have no JDK decoder and must be
    // DROPPED (the one-bad-object contract) — the oracle simply omits
    // them, so an un-dropped row also breaks the hash.
    Q("q45_multimodal_decode",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        Multimodal.decodeRealTable(Multimodal.realMedia(d)).toDF()
          .groupBy(col("media_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("width").cast("bigint")).as("width_sum"),
            sum(col("height").cast("bigint")).as("height_sum"),
            sum(col("unit_count")).as("unit_sum"),
            sum(col("value_sum")).as("value_sum"))
      },
      Some("""WITH png AS (
             |  SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (doc_id // 3) % 16 AS h
             |  FROM documents WHERE doc_id % 3 = 0),
             |px AS (
             |  SELECT p.doc_id, p.w, p.h,
             |    (p.doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS v
             |  FROM png p, generate_series(0, 23) x(x), generate_series(0, 23) y(y)
             |  WHERE x.x < p.w AND y.y < p.h),
             |png_agg AS (
             |  SELECT 'image/png' AS media_type, count(DISTINCT doc_id) AS n,
             |    (SELECT sum(w) FROM png) AS width_sum,
             |    (SELECT sum(h) FROM png) AS height_sum,
             |    count(*) AS unit_sum, sum(v) AS value_sum
             |  FROM px),
             |wav AS (
             |  SELECT doc_id, 64 + doc_id % 64 AS ns
             |  FROM documents WHERE doc_id % 3 = 1),
             |smp AS (
             |  SELECT w.doc_id, (w.doc_id * 37 + i.i * 11) % 4096 - 2048 AS v
             |  FROM wav w, generate_series(0, 127) i(i) WHERE i.i < w.ns),
             |wav_agg AS (
             |  SELECT 'audio/wav' AS media_type, count(DISTINCT doc_id) AS n,
             |    0 AS width_sum, 0 AS height_sum,
             |    count(*) AS unit_sum, sum(v) AS value_sum
             |  FROM smp)
             |SELECT media_type, CAST(n AS BIGINT) AS n,
             |  CAST(width_sum AS BIGINT) AS width_sum,
             |  CAST(height_sum AS BIGINT) AS height_sum,
             |  CAST(unit_sum AS BIGINT) AS unit_sum,
             |  CAST(value_sum AS BIGINT) AS value_sum
             |FROM png_agg WHERE n > 0
             |UNION ALL SELECT media_type, CAST(n AS BIGINT),
             |  CAST(width_sum AS BIGINT), CAST(height_sum AS BIGINT),
             |  CAST(unit_sum AS BIGINT), CAST(value_sum AS BIGINT)
             |FROM wav_agg WHERE n > 0""".stripMargin)),

    // Frame sampling under the gate: the explode pattern a real frame
    // sampler uses — one row per every-Nth frame of each "video" — over
    // the stub-decode layer (whose per-byte metadata is deterministic,
    // so the oracle replays frame counts, frame numbers and widths
    // exactly: w = 1 + first byte&0x7f, frames = floor(bytes/4), ASCII
    // corpus ⇒ unicode(char) == byte). Gates the decode→explode
    // plumbing the multimodal ingest shares with any real decoder.
    Q("q116_frame_sampling",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val decoded = Multimodal.decode(Multimodal.syntheticMedia(d))
        Multimodal.sampleFrames(decoded, everyN = 4)
          .groupBy((col("doc_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_frames"),
            sum(col("frame_no")).as("frame_no_sum"),
            sum(col("width").cast("bigint")).as("width_sum"))
      },
      Some("""WITH vids AS (
             |  SELECT doc_id,
             |    CASE WHEN strlen(coalesce(text,'')) = length(coalesce(text,''))
             |      THEN strlen(coalesce(text,''))
             |      ELSE error('non-ASCII text in q116 oracle fixture — unicode(char) only equals the UTF-8 byte for ASCII') END AS bytes,
             |    CASE WHEN strlen(coalesce(text,'')) >= 1
             |      THEN 1 + (unicode(text[1]) & 127) ELSE 0 END AS w
             |  FROM documents WHERE doc_id % 3 = 2),
             |frames AS (
             |  SELECT doc_id,
             |    unnest(generate_series(0, CAST(bytes // 4 AS INT) - 1)) * 4 AS frame_no,
             |    w
             |  FROM vids WHERE bytes >= 4)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS bucket, count(*) AS n_frames,
             |  CAST(sum(frame_no) AS BIGINT) AS frame_no_sum,
             |  CAST(sum(w) AS BIGINT) AS width_sum
             |FROM frames GROUP BY 1""".stripMargin)),

    // REAL container-header extraction (PNG IHDR / WAV fmt / MP4 ftyp
    // parsed from actual bytes — the pre-decode filter pass of a media
    // ingest). The builders put deterministic doc_id-derived values into
    // valid headers; the oracle recomputes those values in SQL, so a
    // parser byte-offset bug breaks the hash.
    Q("q98_media_headers",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        Multimodal.extractHeaders(Multimodal.headeredMedia(d))
          .groupBy(col("format"))
          .agg(count(lit(1)).as("n"),
            sum(col("width")).as("width_sum"),
            sum(col("height")).as("height_sum"),
            sum(col("channels")).as("channels_sum"),
            sum(col("sample_rate")).as("rate_sum"),
            sum(col("payload_bytes")).as("payload_sum"))
      },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0 THEN 'png'
             |      WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'isom' END AS format,
             |    CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 113 ELSE 0 END AS width,
             |    CASE WHEN doc_id % 3 = 0 THEN 16 + (doc_id // 7) % 97 ELSE 0 END AS height,
             |    CASE WHEN doc_id % 3 = 0 THEN 3
             |      WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2 ELSE 0 END AS channels,
             |    CASE WHEN doc_id % 3 = 1 THEN
             |      CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 16000 END
             |      ELSE 0 END AS sample_rate,
             |    strlen(coalesce(text, '')) AS payload_bytes
             |  FROM documents)
             |SELECT format, count(*) AS n,
             |  CAST(sum(width) AS BIGINT) AS width_sum,
             |  CAST(sum(height) AS BIGINT) AS height_sum,
             |  CAST(sum(channels) AS BIGINT) AS channels_sum,
             |  CAST(sum(sample_rate) AS BIGINT) AS rate_sum,
             |  CAST(sum(payload_bytes) AS BIGINT) AS payload_sum
             |FROM m GROUP BY format""".stripMargin)),

    // PERCEPTUAL IMAGE DEDUP (ImageDedup): dHash fingerprints over
    // REAL decoded PNG rasters (ImageIO — genuine zlib/CRC round
    // trip), 16-bit pigeonhole blocking (the q37 discipline), Hamming
    // ≤ 3 verification — the near-dup modality for images next to the
    // three text modalities. Every even doc carries a planted
    // brightness-shifted partner (+2 mod 256, +40000): same scene,
    // few flipped comparisons — the gate hashes the Hamming histogram
    // AND how many planted partners were recovered at each distance.
    // The oracle recomputes the SAMPLED 9×8 grid straight from the
    // doc_id pixel formula (it never decodes — the Spark side's
    // encoder→zlib→ImageIO→raster chain must land on the same
    // integers), then bits → fingerprint → blocks → pairs in exact
    // integer arithmetic.
    Q("q186_image_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        ImageDedup.hammingPairs(
            ImageDedup.fingerprints(Multimodal.dhashMedia(d)), maxHamming = 3)
          .groupBy(col("hamming"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("idB") === col("idA") + 40000L, 1L).otherwise(0L))
              .as("n_planted"))
      },
      Some("""WITH imgs AS (
             |  SELECT doc_id AS id, doc_id AS bid, 0 AS shift FROM documents
             |  UNION ALL SELECT doc_id + 40000, doc_id, 2 FROM documents
             |  WHERE doc_id % 2 = 0),
             |dims AS (SELECT id, bid, shift,
             |  8 + bid % 16 AS w, 8 + (bid // 3) % 16 AS h FROM imgs),
             |grid AS (
             |  SELECT d.id, gx.x, gy.y,
             |    (d.bid * 31 + ((gx.x * d.w) // 9) * 7 + ((gy.y * d.h) // 8) * 13
             |      + (d.bid % 7) * ((gx.x * d.w) // 9) * ((gy.y * d.h) // 8)
             |      + d.shift) % 256 AS v
             |  FROM dims d, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)),
             |bits AS (
             |  SELECT a.id, a.y * 8 + a.x AS bit
             |  FROM grid a JOIN grid b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
             |  WHERE a.x < 8 AND b.v > a.v),
             |fps AS (
             |  SELECT i.id, coalesce(sum(CAST(1 AS HUGEINT) << b.bit),
             |    CAST(0 AS HUGEINT)) AS fpu
             |  FROM imgs i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
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
             |SELECT CAST(hamming AS INT) AS hamming, count(*) AS n_pairs,
             |  CAST(sum(CASE WHEN idB = idA + 40000 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted
             |FROM pairs WHERE hamming <= 3 GROUP BY hamming""".stripMargin)),

    // INCREMENTAL image dedup (q186's daily-ingest form — the
    // crawl-gatekeeper "is this image already in the corpus?",
    // completing the incremental family across FOUR modalities:
    // literal LSH q152, semantic q170, substring q174, images here):
    // the epoch's dHash index is computed once (8 bytes/image, in
    // production saved bucketed on (block, bv) — a daily batch joins
    // it with zero epoch-side decode); the incoming batch plants
    // +2-brightness near-dups of every even doc (must match their
    // epoch base) and formula-B NOVEL images for odd docs (must
    // report 0 unless a fingerprint genuinely collides). Per incoming
    // image: distinct epoch matches within Hamming ≤ 3 + the best
    // distance. The oracle replays both pixel formulas, both
    // fingerprint sets, the blocking, and the per-image verdicts.
    Q("q190_incremental_image_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        ImageDedup.incrementalMatches(
          ImageDedup.fingerprints(Multimodal.dhashEpoch(d)),
          ImageDedup.fingerprints(Multimodal.dhashIncoming(d)),
          maxHamming = 3)
      },
      Some(q190Oracle)),

    // PERCEPTUAL AUDIO DEDUP (AudioDedup): adjacent-window mean-
    // comparison fingerprints over REAL PCM decode (AudioSystem) —
    // the acoustic dHash, completing near-dup coverage across all
    // three media classes. Means compare via exact integer cross-
    // multiplication (never divided), so the oracle replays the whole
    // decode->window->fingerprint->block->verify chain from the
    // sample formula in pure integer SQL. Every even doc carries a
    // planted partner with +7 on every 13th sample - a sparse
    // perturbation the window means mostly absorb; the gate hashes
    // the Hamming histogram and per-distance planted recovery.
    Q("q191_audio_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        AudioDedup.hammingPairs(
            AudioDedup.fingerprints(Multimodal.audioMedia(d)), maxHamming = 3)
          .groupBy(col("hamming"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("idB") === col("idA") + 40000L, 1L).otherwise(0L))
              .as("n_planted"))
      },
      Some("""WITH auds AS (
             |  SELECT doc_id AS id, doc_id AS bid, 0 AS pert FROM documents
             |  UNION ALL SELECT doc_id + 40000, doc_id, 1 FROM documents
             |  WHERE doc_id % 2 = 0),
             |nsa AS (SELECT id, bid, pert, 64 + bid % 64 AS n FROM auds),
             |smp AS (
             |  SELECT a.id, i.i, a.n,
             |    (a.bid * 37 + i.i * 11 + i.i * i.i * (1 + a.bid % 13)) % 4096 - 2048
             |      + CASE WHEN a.pert = 1 AND i.i % 13 = 0 THEN 7 ELSE 0 END AS v
             |  FROM nsa a, generate_series(0, 127) i(i) WHERE i.i < a.n),
             |blk AS (
             |  SELECT s.id, b.b, CAST(sum(s.v) AS BIGINT) AS sm,
             |    CAST(count(*) AS BIGINT) AS ln
             |  FROM smp s JOIN generate_series(0, 32) b(b)
             |    ON s.i >= (b.b * s.n) // 33 AND s.i < ((b.b + 1) * s.n) // 33
             |  GROUP BY s.id, b.b),
             |bits AS (
             |  SELECT a.id, a.b AS bit
             |  FROM blk a JOIN blk c ON c.id = a.id AND c.b = a.b + 1
             |  WHERE c.sm * a.ln > a.sm * c.ln),
             |fps AS (SELECT n.id,
             |    CAST(coalesce(sum(CAST(1 AS BIGINT) << bit), 0) AS BIGINT) AS fp
             |  FROM nsa n LEFT JOIN bits b ON b.id = n.id GROUP BY n.id),
             |blockedq AS (SELECT id, fp, block, (fp >> (block * 8)) & 255 AS bv
             |  FROM fps CROSS JOIN generate_series(0, 3) g(block)),
             |pairs AS (SELECT DISTINCT a.id AS idA, b.id AS idB,
             |    bit_count(xor(a.fp, b.fp)) AS hamming
             |  FROM blockedq a JOIN blockedq b ON a.block = b.block AND a.bv = b.bv
             |  WHERE a.id < b.id)
             |SELECT CAST(hamming AS INT) AS hamming, count(*) AS n_pairs,
             |  CAST(sum(CASE WHEN idB = idA + 40000 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted
             |FROM pairs WHERE hamming <= 3 GROUP BY hamming""".stripMargin)),

    // STREAMING image dedup - q190's stream twin, giving images the
    // full batch/incremental/streaming trio the text modalities have
    // (q186/q190/here; the 3x3 text matrix becomes 4 rows of
    // modalities): incoming images arrive as a file stream, decode +
    // fingerprint + blocking are STATELESS per-row work, the epoch's
    // blocked dHash index is the static side of a stream-static join,
    // and the Hamming filter emits match rows in Append mode with
    // ZERO state store (the q183 zero-state discipline - streaming
    // countDistinct is unsupported, so the dedup-and-count of
    // multi-block hits runs as batch post-aggregation over the
    // emitted matches, exactly where a production job would land
    // them). Same oracle as q190 BY CONSTRUCTION - the streaming
    // correctness claim IS batch equality.
    Q("q193_streaming_image_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val incoming = Multimodal.dhashIncoming(d).toDF()
        val inDir = s"/tmp/graft-imgstream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(incoming, "doc_id", s"$dir/documents_imgstream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          incoming.write.mode("overwrite").parquet(inDir)
        val index = ImageDedup.blockedIndex(
            ImageDedup.fingerprints(Multimodal.dhashEpoch(d)))
          .localCheckpoint(true) // the epoch index, computed once
        val fpUdf = udf((m: Array[Byte]) => ImageDedup.dhashFromImage(m))
        val matches = graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => stream
            .select(col("doc_id").as("in_id"), fpUdf(col("media")).as("fp"))
            .filter(col("fp").isNotNull)
            .select(col("in_id"), col("fp"),
              posexplode(ImageDedup.blockVals16(col("fp")))
                .as(Seq("block", "bv")))
            .join(index, Seq("block", "bv"))
            .select(col("in_id"), col("eid"),
              bit_count(col("fp").bitwiseXOR(col("efp"))).as("hamming"))
            .filter(col("hamming") <= 3),
          org.apache.spark.sql.streaming.OutputMode.Append,
          s"q193_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
        val agg = matches.select(col("in_id"), col("eid"), col("hamming"))
          .distinct()
          .groupBy(col("in_id"))
          .agg(countDistinct(col("eid")).as("n_matches"),
            min(col("hamming")).as("best"))
        incoming.select(col("doc_id").as("in_id")).join(agg, Seq("in_id"), "left")
          .select(col("in_id"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            coalesce(col("best"), lit(-1)).cast("int").as("best_hamming"))
      },
      Some(q190Oracle)),

    // INCREMENTAL audio dedup — q190's acoustic twin: per incoming
    // audio, distinct epoch matches within Hamming ≤ 3 against the
    // once-per-epoch 4-byte-per-audio fingerprint index. Even docs
    // arrive as sparse-perturbation near-dups (must match their epoch
    // base), odd docs as formula-B novel chirps (must report only
    // true fingerprint collisions). Oracle replays both chirp
    // formulas, windows, fingerprints, blocking and the per-audio
    // verdicts in exact integer arithmetic.
    Q("q194_incremental_audio_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        AudioDedup.incrementalMatches(
          AudioDedup.fingerprints(Multimodal.audioEpoch(d)),
          AudioDedup.fingerprints(Multimodal.audioIncoming(d)),
          maxHamming = 3)
      },
      Some(q194Oracle)),

    // STREAMING audio dedup — completes audio's batch/incremental/
    // streaming trio (q191/q194/here), matching images (q186/q190/
    // q193): stateless decode + fingerprint + blocking on the stream,
    // stream-static join against the epoch index, Hamming filter in
    // Append mode with ZERO state store, batch post-aggregation of
    // the landed matches. Same oracle as q194 by construction.
    Q("q195_streaming_audio_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val incoming = Multimodal.audioIncoming(d).toDF()
        val inDir = s"/tmp/graft-audstream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(incoming, "doc_id", s"$dir/documents_audstream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          incoming.write.mode("overwrite").parquet(inDir)
        val index = AudioDedup.blockedIndex(
            AudioDedup.fingerprints(Multimodal.audioEpoch(d)))
          .localCheckpoint(true) // the epoch index, computed once
        val fpUdf = udf((m: Array[Byte]) => AudioDedup.fingerprintFromWav(m))
        val matches = graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => stream
            .select(col("doc_id").as("in_id"), fpUdf(col("media")).as("fp"))
            .filter(col("fp").isNotNull)
            .select(col("in_id"), col("fp"),
              posexplode(AudioDedup.blockVals8(col("fp")))
                .as(Seq("block", "bv")))
            .join(index, Seq("block", "bv"))
            .select(col("in_id"), col("eid"),
              bit_count(col("fp").bitwiseXOR(col("efp"))).as("hamming"))
            .filter(col("hamming") <= 3),
          org.apache.spark.sql.streaming.OutputMode.Append,
          s"q195_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
        val agg = matches.select(col("in_id"), col("eid"), col("hamming"))
          .distinct()
          .groupBy(col("in_id"))
          .agg(countDistinct(col("eid")).as("n_matches"),
            min(col("hamming")).as("best"))
        incoming.select(col("doc_id").as("in_id")).join(agg, Seq("in_id"), "left")
          .select(col("in_id"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            coalesce(col("best"), lit(-1)).cast("int").as("best_hamming"))
      },
      Some(q194Oracle)),

    // PERCEPTUAL VIDEO DEDUP (VideoDedup): the temporal fingerprint
    // over the STUB frame layer — the brief's prescribed shape for
    // video (no decoder in the container: the per-frame signature
    // kernel is a deterministic fake, everything around it is the
    // real pipeline — framing, 33-window mean comparisons by exact
    // integer cross-multiplication, 8-bit pigeonhole blocking,
    // bit_count verification). Every even doc carries a partner with
    // +1 on every 31st payload byte; videos with < 33 complete frames
    // drop (the one-bad-object contract — the oracle drops them by
    // the same rule). The oracle replays the ftyp header bytes, the
    // perturbed payload codes, frame sums, windows, fingerprints and
    // the Hamming histogram + planted recovery.
    Q("q197_video_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        VideoDedup.hammingPairs(
            VideoDedup.fingerprints(Multimodal.videoMedia(d)), maxHamming = 3)
          .groupBy(col("hamming"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("idB") === col("idA") + 40000L, 1L).otherwise(0L))
              .as("n_planted"))
      },
      Some("""WITH vids AS (
             |  SELECT doc_id AS id, 0 AS pert, text FROM documents
             |  UNION ALL SELECT doc_id + 40000, 1, text FROM documents
             |  WHERE doc_id % 2 = 0),
             |codes AS MATERIALIZED (
             |  SELECT id, [0,0,0,12,102,116,121,112,105,115,111,109] ||
             |    list_transform(list_zip(
             |      list_filter(string_split(text, ''), c -> c <> ''),
             |      generate_series(1, length(text))),
             |      z -> CASE WHEN unicode(z[1]) BETWEEN 0 AND 127
             |        THEN CAST(unicode(z[1]) AS BIGINT)
             |          + CASE WHEN pert = 1 AND (z[2] - 1) % 31 = 0 THEN 1 ELSE 0 END
             |        ELSE CAST(error('non-ASCII byte in q197 oracle') AS BIGINT) END) AS cs
             |  FROM vids WHERE text IS NOT NULL),
             |frames AS (
             |  SELECT id, len(cs) // 4 AS nf,
             |    list_transform(generate_series(0, len(cs) // 4 - 1),
             |      k -> cs[4*k + 1] + cs[4*k + 2] + cs[4*k + 3] + cs[4*k + 4]) AS sig
             |  FROM codes WHERE len(cs) // 4 >= 33),
             |fsig AS (SELECT id, nf, unnest(generate_series(0, nf - 1)) AS k, sig
             |  FROM frames),
             |fs AS (SELECT id, nf, k, sig[k + 1] AS v FROM fsig),
             |blk AS (
             |  SELECT f.id, b.b, CAST(sum(f.v) AS BIGINT) AS sm,
             |    CAST(count(*) AS BIGINT) AS ln
             |  FROM fs f JOIN generate_series(0, 32) b(b)
             |    ON f.k >= (b.b * f.nf) // 33 AND f.k < ((b.b + 1) * f.nf) // 33
             |  GROUP BY f.id, b.b),
             |bits AS (
             |  SELECT a.id, a.b AS bit
             |  FROM blk a JOIN blk c ON c.id = a.id AND c.b = a.b + 1
             |  WHERE c.sm * a.ln > a.sm * c.ln),
             |fps AS (SELECT fr.id,
             |    CAST(coalesce(sum(CAST(1 AS BIGINT) << bit), 0) AS BIGINT) AS fp
             |  FROM frames fr LEFT JOIN bits b ON b.id = fr.id GROUP BY fr.id),
             |blockedq AS (SELECT id, fp, block, (fp >> (block * 8)) & 255 AS bv
             |  FROM fps CROSS JOIN generate_series(0, 3) g(block)),
             |pairs AS (SELECT DISTINCT a.id AS idA, b.id AS idB,
             |    bit_count(xor(a.fp, b.fp)) AS hamming
             |  FROM blockedq a JOIN blockedq b ON a.block = b.block AND a.bv = b.bv
             |  WHERE a.id < b.id)
             |SELECT CAST(hamming AS INT) AS hamming, count(*) AS n_pairs,
             |  CAST(sum(CASE WHEN idB = idA + 40000 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted
             |FROM pairs WHERE hamming <= 3 GROUP BY hamming""".stripMargin)),

    // INCREMENTAL video dedup — completes the video column of the
    // media matrix (q197 batch / here / q203 streaming), giving every
    // media class the full trio: per incoming video, distinct epoch
    // matches within Hamming ≤ 3 against the once-per-epoch 4-byte
    // fingerprint index. Even docs arrive as sparse-corruption
    // near-dups (+1 every 31st payload byte, must match their epoch
    // base), odd docs as NOVEL remapped-payload videos ((3c+7) mod 128
    // per byte — ASCII-range, so the oracle replays it as unicode(c)
    // arithmetic). The kernel is AudioDedup.incrementalMatches
    // verbatim (same 32-bit fingerprint shape); only the stub frame
    // signatures are video's. Videos under 33 complete frames drop on
    // BOTH sides by the same rule — the verdict anchor is the
    // decodable incoming set.
    Q("q202_incremental_video_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        VideoDedup.incrementalMatches(
          VideoDedup.fingerprints(Multimodal.videoEpoch(d)),
          VideoDedup.fingerprints(Multimodal.videoIncoming(d)),
          maxHamming = 3)
      },
      Some(q202Oracle)),

    // STREAMING video dedup — the last empty cell of the media dedup
    // matrix: stateless stub-decode + fingerprint + blocking on the
    // stream, stream-static join against the epoch index, Hamming
    // filter in Append mode with ZERO state store, batch
    // post-aggregation of the landed matches (the q193/q195
    // discipline verbatim). Same oracle as q202 by construction —
    // the streaming correctness claim IS batch equality.
    Q("q203_streaming_video_dedup",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val incoming = Multimodal.videoIncoming(d).toDF()
        val inDir = s"/tmp/graft-vidstream-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(incoming, "doc_id", s"$dir/documents_vidstream")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          incoming.write.mode("overwrite").parquet(inDir)
        val index = VideoDedup.blockedIndex(
            VideoDedup.fingerprints(Multimodal.videoEpoch(d)))
          .localCheckpoint(true) // the epoch index, computed once
        val fpUdf = udf((m: Array[Byte]) => VideoDedup.fingerprintFromStub(m))
        val matches = graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => stream
            .select(col("doc_id").as("in_id"), fpUdf(col("media")).as("fp"))
            .filter(col("fp").isNotNull)
            .select(col("in_id"), col("fp"),
              posexplode(AudioDedup.blockVals8(col("fp")))
                .as(Seq("block", "bv")))
            .join(index, Seq("block", "bv"))
            .select(col("in_id"), col("eid"),
              bit_count(col("fp").bitwiseXOR(col("efp"))).as("hamming"))
            .filter(col("hamming") <= 3),
          org.apache.spark.sql.streaming.OutputMode.Append,
          s"q203_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
        val agg = matches.select(col("in_id"), col("eid"), col("hamming"))
          .distinct()
          .groupBy(col("in_id"))
          .agg(countDistinct(col("eid")).as("n_matches"),
            min(col("hamming")).as("best"))
        VideoDedup.fingerprints(Multimodal.videoIncoming(d))
          .select(col("doc_id").as("in_id"))
          .join(agg, Seq("in_id"), "left")
          .select(col("in_id"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            coalesce(col("best"), lit(-1)).cast("int").as("best_hamming"))
      },
      Some(q202Oracle)),

    // CROSS-MODAL (caption, image) pair construction (CrossModal):
    // the multimodal trainer-file step — doc-keyed caption↔image
    // pairing, NEAR-DUP-AWARE pair dedup (odd docs carry a
    // +2-brightness copy of the previous even doc's image under a
    // different caption; keep-lowest-id drops their pairs), and
    // in-batch contrastive negatives (mix64 buckets; a pair's
    // negatives exclude images within Hamming ≤ 3 of its own — the
    // false-negative anti-join). The gate hashes the full manifest:
    // per pair the keep verdict, batch, and the negative set's exact
    // count/sum/min/max — one mis-dropped pair or one near-dup
    // negative that leaks through moves a row. The oracle replays the
    // dHash pixel formula, the near-dup relation, the mix64 batching
    // and every negative aggregate.
    Q("q201_crossmodal_pairs",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        graft.operators.CrossModal.pairManifest(d,
          ImageDedup.fingerprints(Multimodal.pairMedia(d)), nBatches = 16)
      },
      Some(q201Oracle(nBatches = 16))),

    // SEMANTIC eval-set contamination (Similarity.semanticContamination):
    // the embedding-space sibling of q198's verbatim substring probe —
    // production releases report near-duplicate leakage (eval doc ≈
    // training doc by cosine) next to exact overlap, because paraphrased
    // contamination passes every n-gram check. Training corpus = the
    // embeddings table; the planted eval set carries all three regimes:
    // VERBATIM copies (+200000, cosine 1 with their source — must be
    // flagged), PARAPHRASE first-component flips (+300000, cosine
    // usually ≥ 0.95 — decided deterministically per doc), NOVEL
    // negated vectors (+400000, cosine −1 with their source — flagged
    // only on a true coincidental neighbor). The probe is the q162/q170
    // cell machinery: fit cells on TRAINING only, assign each eval doc
    // to its one cell, score just that cell's members. The oracle
    // replays fit + assignment + per-eval evidence (source count, best
    // similarity, verdict) — a drift in any Lloyd iteration or one
    // mis-assigned eval doc moves a verdict.
    Q("q200_semantic_eval_contamination",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val flipped = concat(
          array((-element_at(col("embedding"), 1)).cast("float")),
          expr("slice(embedding, 2, size(embedding) - 1)"))
        val negated = expr("transform(embedding, x -> CAST(-x AS FLOAT))")
        val evalSet = e.filter(col("vec_id") % 3 === 0)
          .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
          .unionByName(e.filter(col("vec_id") % 3 === 1)
            .select((col("vec_id") + 300000L).as("vec_id"),
              flipped.as("embedding")))
          .unionByName(e.filter(col("vec_id") % 3 === 2)
            .select((col("vec_id") + 400000L).as("vec_id"),
              negated.as("embedding")))
        val (index, centers) = Similarity.semanticIndex(e)
        val report = Similarity.semanticContamination(
          evalSet, index, centers, 0.95)
        evalSet.select(col("vec_id").as("in_id"),
            when(col("vec_id") >= 400000L, "novel")
              .when(col("vec_id") >= 300000L, "paraphrase")
              .otherwise("verbatim").as("regime"))
          .join(report, Seq("in_id"), "left")
          .select(col("in_id"), col("regime"),
            coalesce(col("n_sources"), lit(0L)).as("n_sources"),
            coalesce(col("best_sim"), lit(-2.0)).as("best_sim"),
            coalesce(col("contaminated"), lit(0L)).as("contaminated"))
      },
      Some(q200Oracle(threshold = 0.95, nCells = 16, maxIter = 10))),

    // ANN INDEX CONSISTENCY AUDIT (ProductQuantization.auditAnnIndex —
    // the audit discipline's second instance, q335's dense sibling):
    // eight keyed checks over the maintained (vec_id, cell, code,
    // fit_id) rows against the live corpus and the frozen fit —
    // coverage both ways, duplicate ids, structural row health against
    // the fit geometry (cell range, code length, subcode range,
    // fit_id), and the definitive re-encode parity check. The healthy
    // leg audits annIndex(fit, corpus) at eight zeros (no false
    // positives). The corrupted leg plants SEVEN independent
    // corruptions by vec_id arithmetic (drop %17, duplicate %23, one
    // ghost row, cell+nCells on %19, code truncation on %29, negative
    // subcode on %31 where not already truncated, fit_id bump on %37)
    // so every check is load-bearing at an exact oracle-derived count;
    // duplicated rows carry their corruptions twice (multiplicity is
    // part of the oracle arithmetic). encode_mismatch inner-joins, so
    // coverage/ghost corruptions are counted once, by their own checks.
    Q("q337_ann_index_audit",
      (spark, dir) => {
        val sq = spark; import sq.implicits._
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val fit = pq.fitFrozen(e)
        val nCells = fit.coarse.length
        val m = fit.model.m
        val idx = graft.operators.OperatorCaches.track(
          pq.annIndex(fit, e).persist())
        val healthy = pq.auditAnnIndex(fit, idx, e)
        val base = idx.filter(col("vec_id") % 17 =!= 0)
        val dups = base.filter(col("vec_id") % 23 === 0)
        val ghost = Seq((999999991L, 0, Seq.fill(m)(0), fit.fitId))
          .toDF("vec_id", "cell", "code", "fit_id")
        val planted = base.unionByName(dups)
          .select(col("vec_id"),
            when(col("vec_id") % 19 === 0, col("cell") + nCells)
              .otherwise(col("cell")).as("cell"),
            when(col("vec_id") % 29 === 0, slice(col("code"), 1, m - 1))
              .when(col("vec_id") % 31 === 0,
                concat(array(lit(-1)), slice(col("code"), 2, m - 1)))
              .otherwise(col("code")).as("code"),
            when(col("vec_id") % 37 === 0, col("fit_id") + 1)
              .otherwise(col("fit_id")).as("fit_id"))
          .unionByName(ghost)
        val corrupted = pq.auditAnnIndex(fit, planted, e)
        healthy.select(lit("healthy").as("leg"), col("check"),
            col("violations"))
          .unionByName(corrupted.select(lit("corrupted").as("leg"),
            col("check"), col("violations")))
      },
      Some("""WITH checks("check") AS (VALUES ('vec_missing_from_index'),
             |  ('index_orphans'), ('dup_vec_ids'), ('cell_out_of_range'),
             |  ('code_len_mismatch'), ('subcode_out_of_range'),
             |  ('fit_id_mismatch'), ('encode_mismatch')),
             |ids AS (SELECT vec_id AS id FROM embeddings),
             |surv AS (SELECT id, 1 + CAST(id % 23 = 0 AS INT) AS mult
             |  FROM ids WHERE id % 17 <> 0)
             |SELECT 'healthy' AS leg, "check",
             |  CAST(0 AS BIGINT) AS violations
             |FROM checks
             |UNION ALL
             |SELECT 'corrupted', "check",
             |  CAST(CASE "check"
             |    WHEN 'vec_missing_from_index' THEN
             |      (SELECT count(*) FROM ids WHERE id % 17 = 0)
             |    WHEN 'index_orphans' THEN 1
             |    WHEN 'dup_vec_ids' THEN
             |      (SELECT count(*) FROM surv WHERE id % 23 = 0)
             |    WHEN 'cell_out_of_range' THEN
             |      (SELECT coalesce(sum(mult), 0) FROM surv
             |       WHERE id % 19 = 0)
             |    WHEN 'code_len_mismatch' THEN
             |      (SELECT coalesce(sum(mult), 0) FROM surv
             |       WHERE id % 29 = 0)
             |    WHEN 'subcode_out_of_range' THEN
             |      (SELECT coalesce(sum(mult), 0) FROM surv
             |       WHERE id % 31 = 0 AND id % 29 <> 0)
             |    WHEN 'fit_id_mismatch' THEN
             |      (SELECT coalesce(sum(mult), 0) FROM surv
             |       WHERE id % 37 = 0)
             |    WHEN 'encode_mismatch' THEN
             |      (SELECT coalesce(sum(mult), 0) FROM surv
             |       WHERE id % 19 = 0 OR id % 29 = 0 OR id % 31 = 0)
             |  END AS BIGINT)
             |FROM checks""".stripMargin)),

    // ANN TIME-TRAVEL SERVE (q334's discipline on the dense index):
    // top-k serve READS AT v1 of the versioned partitioned ANN
    // artifact after a v2 delete/re-encode wave has landed — the
    // reproducibility pin a training run needs ("the neighbors used
    // on day N" recomputed months later). The fixture folds three
    // deterministic versions create-once per corpus fingerprint:
    // v0 = epoch, v1 = +insert wave (net set == q255's, so q255's
    // oracle gates the versioned read + serve), v2 = deletes of a
    // third of the epoch plus negated re-encodes of a third of the
    // batch — version skew is load-bearing twice over (a v2 read
    // loses/flips query vectors AND candidates; the in-query guard
    // proves v2 strictly shrank). The versioned read is what every
    // run pays; serve is the unchanged queryIndexDistributed path.
    Q("q338_ann_time_travel",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val ia = graft.operators.IndexArtifact
        val epoch = e.filter(col("vec_id") % 4 =!= 0)
        val batch = e.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"),
            col("embedding"))
        val fit = pq.fitFrozen(epoch)
        val m = pq.annMember(parts = 8)
        val root = s"/tmp/graft-anntt-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(e, "vec_id", s"$dir/embeddings_anntt")}"
        if (!new java.io.File(s"$root/_DONE").exists()) {
          graft.operators.OperatorCaches.scoped {
            ia.writeFull(pq.annIndex(fit, epoch), s"$root/idx", m, 0)
            pq.applyCdcAnn(fit, s"$root/idx", m,
              batch.select(lit("I").as("op"), col("vec_id"),
                col("embedding")),
              "vec_id", "embedding", "op", fromVersion = 0, toVersion = 1)
            val cdc2 = epoch.filter(col("vec_id") % 3 === 1)
              .select(lit("D").as("op"), col("vec_id"),
                lit(null).cast("array<float>").as("embedding"))
              .unionByName(batch.filter(col("vec_id") % 3 === 0)
                .select(lit("U").as("op"), col("vec_id"),
                  transform(col("embedding"), x => -x).as("embedding")))
            pq.applyCdcAnn(fit, s"$root/idx", m, cdc2,
              "vec_id", "embedding", "op", fromVersion = 1, toVersion = 2)
          }
          new java.io.FileOutputStream(s"$root/_DONE").close()
        }
        val v1 = ia.read(spark, s"$root/idx", m, 1)
        val n1 = v1.count()
        val n2 = ia.read(spark, s"$root/idx", m, 2).count()
        if (n2 >= n1) throw new IllegalStateException(
          s"q338 fixture defeated: v2 ($n2 rows) did not strictly " +
            s"shrink below v1 ($n1) — the version pin is not load-bearing")
        val queries = epoch.unionByName(batch)
          .filter(col("vec_id") < 20 ||
            (col("vec_id") >= 10000000L && col("vec_id") < 10000020L))
        pq.queryIndexDistributed(fit, v1, queries, k = 10, nprobe = 4)
      },
      Some(q255Oracle(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, topK = 10, offset = 10000000L,
        queryPred = "vid < 20 OR (vid >= 10000000 AND vid < 10000020)"))),

    // IN-STREAM AUTO-COMPACTION (IndexArtifact.compactLayoutIfFanIn —
    // the read-amplification bound an INFINITE maintenance stream
    // needs; q328's post-stream compact+GC only works for streams
    // that end): q328's vector-CDC fixture re-batched PARTITION-
    // ALIGNED (events route by their home hash partition, six files,
    // maxFilesPerTrigger=1), so each fold touches ~1/6 of the
    // partitions and the manifest's version fan-in GROWS across folds
    // — the exact long-running-stream fragmentation the policy exists
    // to bound. After every fold the policy compacts iff fan-in
    // exceeds 2, so reads stay at most 3 path groups per member
    // forever while compaction I/O amortizes to ~1/maxFanIn of the
    // folds. The query THROWS unless the policy fired at least twice
    // AND the post-stream fan-in is within the bound (both would pass
    // silently under a never-compacting or always-compacting bug);
    // the net index equals q255's, so its oracle gates fold +
    // policy + layout read-back + serve in one hash.
    Q("q339_stream_auto_compaction",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val pq = graft.operators.ProductQuantization
        val ia = graft.operators.IndexArtifact
        val epoch = e.filter(col("vec_id") % 4 =!= 0)
        val batch = e.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"),
            col("embedding"))
        val corruptPred = col("vec_id") % 9 === 2
        val v0Corpus = epoch.select(col("vec_id"),
            when(corruptPred, transform(col("embedding"), x => -x))
              .otherwise(col("embedding")).as("embedding"))
          .unionByName(e.filter(col("vec_id") % 5 === 0)
            .select((col("vec_id") + 20000000L).as("vec_id"),
              col("embedding")))
        val fit = pq.fitFrozen(epoch)
        val m = pq.annMember(parts = 32)
        val updates = epoch.filter(corruptPred)
          .select(lit("U").as("op"), col("vec_id"), col("embedding"))
        val inserts = batch
          .select(lit("I").as("op"), col("vec_id"), col("embedding"))
        val deletes = e.filter(col("vec_id") % 5 === 0)
          .select(lit("D").as("op"),
            (col("vec_id") + 20000000L).as("vec_id"),
            lit(null).cast("array<float>").as("embedding"))
        val cdc = updates.unionByName(inserts).unionByName(deletes)
        val inDir = s"/tmp/graft-annacomp-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(cdc, "vec_id", s"$dir/embeddings_annacomp")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          // partition-aligned ingest: route each event by its home
          // hash partition so a micro-batch touches a SUBSET of the
          // 32 partitions and fan-in actually fragments
          cdc.repartition(6, ia.partOf(col("vec_id"), m.parts))
            .write.mode("overwrite").parquet(inDir)
        val root = freshRunDir(s"$inDir-state")
        val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", 2)
        val version = new java.util.concurrent.atomic.AtomicInteger(0)
        val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
        try {
          ia.writeFull(pq.annIndex(fit, v0Corpus), s"$root/idx", m, 0)
          val schema = spark.read.parquet(inDir).schema
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
            .writeStream
            .option("checkpointLocation", s"$root/chk")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame,
                _: Long) =>
              graft.operators.OperatorCaches.scoped {
                val n = version.get()
                pq.applyCdcAnn(fit, s"$root/idx", m, b,
                  "vec_id", "embedding", "op",
                  fromVersion = n, toVersion = n + 1)
                val cur = ia.compactLayoutIfFanIn(spark, s"$root/idx",
                  Seq(m), n + 1, maxFanIn = 2)
                if (cur != n + 1) compactions.incrementAndGet()
                version.set(cur)
              }
              ()
            }
            .start()
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
        if (compactions.get() < 2) throw new IllegalStateException(
          s"q339: the auto-compaction policy fired ${compactions.get()} " +
            "times — the fan-in bound is not load-bearing " +
            "(check the partition-aligned input batching)")
        val fanIn = ia.readManifest(spark, s"$root/idx", m,
          version.get()).values.toSet.size
        if (fanIn > 2) throw new IllegalStateException(
          s"q339: post-stream fan-in $fanIn exceeds the declared bound 2")
        val fin = ia.read(spark, s"$root/idx", m, version.get())
        val queries = epoch.unionByName(batch)
          .filter(col("vec_id") < 20 ||
            (col("vec_id") >= 10000000L && col("vec_id") < 10000020L))
        pq.queryIndexDistributed(fit, fin, queries, k = 10, nprobe = 4)
      },
      Some(q255Oracle(nCells = 16, nprobe = 4, m = 8, subDim = 8,
        kCent = 16, maxIter = 10, topK = 10, offset = 10000000L,
        queryPred = "vid < 20 OR (vid >= 10000000 AND vid < 10000020)"))),
  )

  /** The q190 verdict replay (both pixel formulas, fingerprints,
    * blocking, per-incoming matches) — shared verbatim with q193,
    * whose streaming correctness claim is batch equality. */
  private def q190Oracle: String =
    """WITH imgs AS (
             |  SELECT doc_id AS id, doc_id AS bid, 0 AS shift, 0 AS fm, 0 AS side
             |  FROM documents
             |  UNION ALL SELECT doc_id + 40000, doc_id, 2, 0, 1 FROM documents
             |  WHERE doc_id % 2 = 0
             |  UNION ALL SELECT doc_id + 50000, doc_id, 0, 1, 1 FROM documents
             |  WHERE doc_id % 2 = 1),
             |dims AS (SELECT id, bid, shift, fm, side,
             |  8 + bid % 16 AS w, 8 + (bid // 3) % 16 AS h FROM imgs),
             |grid AS (
             |  SELECT d.id, d.side, gx.x, gy.y,
             |    CASE WHEN d.fm = 0 THEN
             |      (d.bid * 31 + ((gx.x * d.w) // 9) * 7 + ((gy.y * d.h) // 8) * 13
             |        + (d.bid % 7) * ((gx.x * d.w) // 9) * ((gy.y * d.h) // 8)
             |        + d.shift) % 256
             |    ELSE
             |      (d.bid * 53 + ((gx.x * d.w) // 9) * 11 + ((gy.y * d.h) // 8) * 17
             |        + (d.bid % 5) * ((gx.x * d.w) // 9) * ((gy.y * d.h) // 8)
             |        + 3) % 256 END AS v
             |  FROM dims d, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)),
             |bits AS (
             |  SELECT a.id, a.y * 8 + a.x AS bit
             |  FROM grid a JOIN grid b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
             |  WHERE a.x < 8 AND b.v > a.v),
             |fps AS (
             |  SELECT i.id, i.side, coalesce(sum(CAST(1 AS HUGEINT) << b.bit),
             |    CAST(0 AS HUGEINT)) AS fpu
             |  FROM imgs i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id, i.side),
             |signed AS (
             |  SELECT id, side, CAST(CASE WHEN fpu >= CAST(9223372036854775808 AS HUGEINT)
             |    THEN fpu - 18446744073709551616 ELSE fpu END AS BIGINT) AS fp
             |  FROM fps),
             |blockedq AS (
             |  SELECT id, side, fp, block, (fp >> (block * 16)) & 65535 AS bv
             |  FROM signed CROSS JOIN generate_series(0, 3) g(block)),
             |m AS (
             |  SELECT DISTINCT i.id AS in_id, e.id AS eid,
             |    bit_count(xor(i.fp, e.fp)) AS hamming
             |  FROM blockedq i JOIN blockedq e
             |    ON e.block = i.block AND e.bv = i.bv AND e.side = 0
             |  WHERE i.side = 1),
             |agg AS (
             |  SELECT in_id, count(DISTINCT eid) AS n_matches, min(hamming) AS best
             |  FROM m WHERE hamming <= 3 GROUP BY in_id)
             |SELECT i.id AS in_id,
             |  CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
             |  CAST(coalesce(a.best, -1) AS INT) AS best_hamming
             |FROM imgs i LEFT JOIN agg a ON a.in_id = i.id
             |WHERE i.side = 1""".stripMargin

  /** The q194 verdict replay (both chirp formulas, windows,
    * fingerprints, 8-bit blocking, per-incoming matches) — shared
    * verbatim with q195, whose streaming correctness claim is batch
    * equality. */
  private def q194Oracle: String =
    """WITH auds AS (
      |  SELECT doc_id AS id, doc_id AS bid, 0 AS pert, 0 AS fm, 0 AS side
      |  FROM documents
      |  UNION ALL SELECT doc_id + 40000, doc_id, 1, 0, 1 FROM documents
      |  WHERE doc_id % 2 = 0
      |  UNION ALL SELECT doc_id + 50000, doc_id, 0, 1, 1 FROM documents
      |  WHERE doc_id % 2 = 1),
      |nsa AS (SELECT id, bid, pert, fm, side, 64 + bid % 64 AS n FROM auds),
      |smp AS (
      |  SELECT a.id, a.side, i.i, a.n,
      |    CASE WHEN a.fm = 1
      |      THEN (a.bid * 41 + i.i * 13 + i.i * i.i * (2 + a.bid % 11)) % 4096 - 2048
      |      ELSE (a.bid * 37 + i.i * 11 + i.i * i.i * (1 + a.bid % 13)) % 4096 - 2048
      |        + CASE WHEN a.pert = 1 AND i.i % 13 = 0 THEN 7 ELSE 0 END END AS v
      |  FROM nsa a, generate_series(0, 127) i(i) WHERE i.i < a.n),
      |blk AS (
      |  SELECT s.id, b.b, CAST(sum(s.v) AS BIGINT) AS sm,
      |    CAST(count(*) AS BIGINT) AS ln
      |  FROM smp s JOIN generate_series(0, 32) b(b)
      |    ON s.i >= (b.b * s.n) // 33 AND s.i < ((b.b + 1) * s.n) // 33
      |  GROUP BY s.id, b.b),
      |bits AS (
      |  SELECT a.id, a.b AS bit
      |  FROM blk a JOIN blk c ON c.id = a.id AND c.b = a.b + 1
      |  WHERE c.sm * a.ln > a.sm * c.ln),
      |fps AS (SELECT n.id, n.side,
      |    CAST(coalesce(sum(CAST(1 AS BIGINT) << bit), 0) AS BIGINT) AS fp
      |  FROM nsa n LEFT JOIN bits b ON b.id = n.id GROUP BY n.id, n.side),
      |blockedq AS (SELECT id, side, fp, block, (fp >> (block * 8)) & 255 AS bv
      |  FROM fps CROSS JOIN generate_series(0, 3) g(block)),
      |m AS (
      |  SELECT DISTINCT i.id AS in_id, e.id AS eid,
      |    bit_count(xor(i.fp, e.fp)) AS hamming
      |  FROM blockedq i JOIN blockedq e
      |    ON e.block = i.block AND e.bv = i.bv AND e.side = 0
      |  WHERE i.side = 1),
      |agg AS (
      |  SELECT in_id, count(DISTINCT eid) AS n_matches, min(hamming) AS best
      |  FROM m WHERE hamming <= 3 GROUP BY in_id)
      |SELECT a.id AS in_id,
      |  CAST(coalesce(g.n_matches, 0) AS BIGINT) AS n_matches,
      |  CAST(coalesce(g.best, -1) AS INT) AS best_hamming
      |FROM auds a LEFT JOIN agg g ON g.in_id = a.id
      |WHERE a.side = 1""".stripMargin

  /** The q202 verdict replay (epoch stub videos, both incoming payload
    * formulas, frame sums, windows, fingerprints, 8-bit blocking,
    * per-incoming matches) — shared verbatim with q203, whose
    * streaming correctness claim is batch equality. The final anchor
    * is fps WHERE side = 1: incoming videos under 33 complete frames
    * are undecodable on BOTH engines and emit no verdict row. */
  private def q202Oracle: String =
    """WITH vids AS (
      |  SELECT doc_id AS id, 0 AS pert, 0 AS fm, 0 AS side, text FROM documents
      |  UNION ALL SELECT doc_id + 40000, 1, 0, 1, text FROM documents
      |  WHERE doc_id % 2 = 0
      |  UNION ALL SELECT doc_id + 50000, 0, 1, 1, text FROM documents
      |  WHERE doc_id % 2 = 1),
      |codes AS MATERIALIZED (
      |  SELECT id, side, [0,0,0,12,102,116,121,112,105,115,111,109] ||
      |    list_transform(list_zip(
      |      list_filter(string_split(text, ''), c -> c <> ''),
      |      generate_series(1, length(text))),
      |      z -> CASE WHEN unicode(z[1]) BETWEEN 0 AND 127
      |        THEN CASE WHEN fm = 1
      |          THEN (CAST(unicode(z[1]) AS BIGINT) * 3 + 7) % 128
      |          ELSE CAST(unicode(z[1]) AS BIGINT)
      |            + CASE WHEN pert = 1 AND (z[2] - 1) % 31 = 0 THEN 1 ELSE 0 END END
      |        ELSE CAST(error('non-ASCII byte in q202 oracle') AS BIGINT) END) AS cs
      |  FROM vids WHERE text IS NOT NULL),
      |frames AS (
      |  SELECT id, side, len(cs) // 4 AS nf,
      |    list_transform(generate_series(0, len(cs) // 4 - 1),
      |      k -> cs[4*k + 1] + cs[4*k + 2] + cs[4*k + 3] + cs[4*k + 4]) AS sig
      |  FROM codes WHERE len(cs) // 4 >= 33),
      |fsig AS (SELECT id, side, nf, unnest(generate_series(0, nf - 1)) AS k, sig
      |  FROM frames),
      |fs AS (SELECT id, side, nf, k, sig[k + 1] AS v FROM fsig),
      |blk AS (
      |  SELECT f.id, b.b, CAST(sum(f.v) AS BIGINT) AS sm,
      |    CAST(count(*) AS BIGINT) AS ln
      |  FROM fs f JOIN generate_series(0, 32) b(b)
      |    ON f.k >= (b.b * f.nf) // 33 AND f.k < ((b.b + 1) * f.nf) // 33
      |  GROUP BY f.id, b.b),
      |bits AS (
      |  SELECT a.id, a.b AS bit
      |  FROM blk a JOIN blk c ON c.id = a.id AND c.b = a.b + 1
      |  WHERE c.sm * a.ln > a.sm * c.ln),
      |fps AS (SELECT fr.id, fr.side,
      |    CAST(coalesce(sum(CAST(1 AS BIGINT) << bit), 0) AS BIGINT) AS fp
      |  FROM frames fr LEFT JOIN bits b ON b.id = fr.id GROUP BY fr.id, fr.side),
      |blockedq AS (SELECT id, side, fp, block, (fp >> (block * 8)) & 255 AS bv
      |  FROM fps CROSS JOIN generate_series(0, 3) g(block)),
      |m AS (
      |  SELECT DISTINCT i.id AS in_id, e.id AS eid,
      |    bit_count(xor(i.fp, e.fp)) AS hamming
      |  FROM blockedq i JOIN blockedq e
      |    ON e.block = i.block AND e.bv = i.bv AND e.side = 0
      |  WHERE i.side = 1),
      |agg AS (
      |  SELECT in_id, count(DISTINCT eid) AS n_matches, min(hamming) AS best
      |  FROM m WHERE hamming <= 3 GROUP BY in_id)
      |SELECT f.id AS in_id,
      |  CAST(coalesce(g.n_matches, 0) AS BIGINT) AS n_matches,
      |  CAST(coalesce(g.best, -1) AS INT) AS best_hamming
      |FROM fps f LEFT JOIN agg g ON g.in_id = f.id
      |WHERE f.side = 1""".stripMargin

  /** The q201 manifest replay: the q186 dHash pixel chain with the
    * pair-media id mapping (bid = id − id%2, shift = 2·(id%2)), the
    * near-dup drop relation, mix64 batching (vu % nBatches == Spark's
    * remainderUnsigned), and per-pair negative aggregates. */
  private def q201Oracle(nBatches: Int): String =
    s"""WITH docs AS (
       |  SELECT doc_id AS id, length(coalesce(text, '')) AS clen FROM documents),
       |dims AS (SELECT id, clen, id - (id % 2) AS bid, 2 * (id % 2) AS shift
       |  FROM docs),
       |dims2 AS (SELECT id, clen, bid, shift,
       |  8 + bid % 16 AS w, 8 + (bid // 3) % 16 AS h FROM dims),
       |grid AS (
       |  SELECT d.id, gx.x, gy.y,
       |    (d.bid * 31 + ((gx.x * d.w) // 9) * 7 + ((gy.y * d.h) // 8) * 13
       |      + (d.bid % 7) * ((gx.x * d.w) // 9) * ((gy.y * d.h) // 8)
       |      + d.shift) % 256 AS v
       |  FROM dims2 d, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)),
       |pbits AS (
       |  SELECT a.id, a.y * 8 + a.x AS bit
       |  FROM grid a JOIN grid b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
       |  WHERE a.x < 8 AND b.v > a.v),
       |fpsu AS (
       |  SELECT d.id, coalesce(sum(CAST(1 AS HUGEINT) << b.bit),
       |    CAST(0 AS HUGEINT)) AS fpu
       |  FROM dims2 d LEFT JOIN pbits b ON b.id = d.id GROUP BY d.id),
       |fps AS (
       |  SELECT id, CAST(CASE WHEN fpu >= CAST(9223372036854775808 AS HUGEINT)
       |    THEN fpu - 18446744073709551616 ELSE fpu END AS BIGINT) AS fp
       |  FROM fpsu),
       |blockedq AS (SELECT id, fp, block, (fp >> (block * 16)) & 65535 AS bv
       |  FROM fps CROSS JOIN generate_series(0, 3) g(block)),
       |dup AS (SELECT DISTINCT a.id AS idA, b.id AS idB
       |  FROM blockedq a JOIN blockedq b ON a.block = b.block AND a.bv = b.bv
       |  WHERE a.id < b.id AND bit_count(xor(a.fp, b.fp)) <= 3),
       |droppedq AS (SELECT DISTINCT idB AS id FROM dup),
       |${RelationalQueries5.mix64Stages("fps", Seq("id"),
            "CAST(id AS HUGEINT)", prefix = "p")},
       |lbl AS (SELECT f.id, f.fp, CAST(m.vu % $nBatches AS BIGINT) AS batch,
       |    f.id NOT IN (SELECT id FROM droppedq) AS kept
       |  FROM fps f JOIN pmixed m USING (id)),
       |keptp AS (SELECT id, fp, batch FROM lbl WHERE kept),
       |negs AS (SELECT p.id, count(*) AS n_neg, CAST(sum(n.id) AS BIGINT) AS s,
       |    min(n.id) AS mn, max(n.id) AS mx
       |  FROM keptp p JOIN keptp n ON n.batch = p.batch AND n.id <> p.id
       |  WHERE bit_count(xor(p.fp, n.fp)) > 3 GROUP BY p.id)
       |SELECT d.id AS doc_id, CAST(d.clen AS BIGINT) AS caption_len,
       |  CAST(CASE WHEN l.kept THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |  l.batch,
       |  CAST(coalesce(g.n_neg, 0) AS BIGINT) AS n_negatives,
       |  CAST(coalesce(g.s, 0) AS BIGINT) AS neg_id_sum,
       |  CAST(coalesce(g.mn, -1) AS BIGINT) AS neg_id_min,
       |  CAST(coalesce(g.mx, -1) AS BIGINT) AS neg_id_max
       |FROM docs d JOIN lbl l ON l.id = d.id
       |LEFT JOIN negs g ON g.id = d.id""".stripMargin
}
