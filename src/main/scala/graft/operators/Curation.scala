package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-curation operators for training-data pipelines: benchmark
  * decontamination, intra-document repetition scoring, vocabulary
  * extraction, and domain-mixture reweighting.
  *
  * Scale shapes (100 TB):
  *  - contamination joins on the n-gram VALUE with the eval side distinct
  *    — the eval set (benchmarks) is tiny relative to the corpus, so the
  *    gram join broadcasts; the corpus side is one explode + one shuffle.
  *    (At extreme gram cardinality, pre-hash grams to 64-bit before the
  *    join to shrink shuffle width — kept as raw strings here so the
  *    DuckDB oracle can replay the query exactly.)
  *  - repetition stats are per-document aggregates: explode → groupBy on
  *    (doc, token) — combiner-friendly, no cross-document traffic.
  *  - mixture weights aggregate to one row per domain — trivially small.
  */
object Curation {

  /** WINNOWING fingerprint kernel (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS document-fingerprinting algorithm): hash every k-char
    * gram of the lowercased text (fnv1a64), then every window of `w`
    * consecutive gram hashes selects its MINIMUM (unsigned compare, so
    * the SQL replay's HUGEINT min agrees); the fingerprint set is the
    * distinct selected hashes. GUARANTEE: two documents sharing any
    * substring of ≥ k + w − 1 chars share ≥ 1 fingerprint — the
    * char-level rung UNDER the token n-gram filters (r15 missing #5):
    * a partial leak of 6–10 tokens never carries a shared 13-token
    * gram but easily spans k+w−1 chars. Tail windows (fewer than w
    * hashes remaining) still select their min — a deterministic
    * superset of the classic w-sized-windows-only set, chosen because
    * both engines express it as one ROWS BETWEEN frame.
    * O(m·w) per doc (w is small; the monotonic-deque O(m) form is not
    * worth losing the window-SQL parity). */
  /** All k-gram fnv1a64 hashes of the lowercased text, positionally
    * indexed (`hs(i)` = hash of chars `[i, i+k)`). The shared kernel
    * under [[winnowingKernel]] (min-selection) and [[leakedSpans]]
    * (exact span extension over candidate pairs).
    *
    * Lowercasing is the LENGTH-PRESERVING per-char map
    * (`Character.toLowerCase`), NOT `String.toLowerCase`: the string
    * form can change length (U+0130 'İ' → "i̇"), which would
    * misalign every downstream position against the ORIGINAL text —
    * [[stripKernel]] cuts the original at positions computed here, so
    * a length drift would cut the wrong chars or walk past the end. */
  def gramHashes(text: String, k: Int): Array[Long] = {
    if (text == null) return Array.empty
    val t = {
      val arr = new Array[Char](text.length)
      var c = 0
      while (c < text.length) {
        arr(c) = Character.toLowerCase(text.charAt(c)); c += 1
      }
      new String(arr)
    }
    val n = t.length
    if (n < k) return Array.empty
    val m = n - k + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      hs(i) = TextFunctions.fnv1a64(t.substring(i, i + k)); i += 1
    }
    hs
  }

  def winnowingKernel(text: String, k: Int, w: Int): Array[Long] = {
    val hs = gramHashes(text, k)
    if (hs.isEmpty) return hs
    val m = hs.length
    val sel = new java.util.HashSet[java.lang.Long]()
    var j = 0
    while (j < m) {
      var mn = hs(j)
      var x = j + 1
      while (x < j + w && x < m) {
        if (java.lang.Long.compareUnsigned(hs(x), mn) < 0) mn = hs(x)
        x += 1
      }
      sel.add(mn); j += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  /** [[winnowingKernel]] per document → exploded (id, fp) rows. One
    * fused UDF per doc (the shingles-kernel stance: an expression-form
    * transform would re-lower the text once per position under
    * CollapseProject). */
  def winnowingFingerprints(corpus: DataFrame, idCol: String,
      textCol: String, k: Int = 25, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, s"bad winnowing params k=$k w=$w")
    val fps = udf((t: String) => winnowingKernel(t, k, w))
    corpus.select(col(idCol).as("id"),
        explode(fps(col(textCol))).as("fp"))
  }

  /** POSITIONAL winnowing selection — [[winnowingKernel]] keeping WHERE
    * each fingerprint was selected: per window of `w` consecutive gram
    * hashes, the (position, hash) of the minimum hash (unsigned order,
    * ties to the LEFTMOST position — equivalently the minimum of the
    * combined key h·2^20 + pos, which is how the SQL replay expresses
    * it in one window frame); selected positions deduped. The per-doc
    * fp SET equals [[winnowingKernel]]'s, so a strip-list mined over
    * the set form ([[boilerplateFingerprints]]) keys these positions
    * directly. Texts must stay under 2^20 chars (the combined-key
    * stride — ~1 MB; chunk longer docs first), enforced loudly. */
  def winnowingPositionsKernel(text: String, k: Int,
      w: Int): Array[(Long, Long)] = {
    val hs = gramHashes(text, k)
    if (hs.isEmpty) return Array.empty
    require(text.length < (1 << 20),
      s"winnowingPositions: ${text.length}-char doc >= 2^20 — chunk first")
    val m = hs.length
    val sel = new java.util.TreeSet[Integer]()
    var j = 0
    while (j < m) {
      var mnPos = j
      var x = j + 1
      while (x < j + w && x < m) {
        if (java.lang.Long.compareUnsigned(hs(x), hs(mnPos)) < 0) mnPos = x
        x += 1
      }
      sel.add(mnPos); j += 1
    }
    val out = new Array[(Long, Long)](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) {
      val p = it.next().intValue()
      out(o) = (p.toLong, hs(p)); o += 1
    }
    out
  }

  /** [[winnowingPositionsKernel]] per document → exploded
    * (id, pos 0-based, fp) rows. */
  def winnowingPositions(corpus: DataFrame, idCol: String,
      textCol: String, k: Int = 25, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, s"bad winnowing params k=$k w=$w")
    val f = udf((t: String) => winnowingPositionsKernel(t, k, w))
    corpus.select(col(idCol).as("id"),
        explode(f(col(textCol))).as("pw"))
      .select(col("id"), col("pw._1").as("pos"), col("pw._2").as("fp"))
  }

  /** TEMPLATE-STRIP PASS — applying [[boilerplateFingerprints]]'s mined
    * strip-list to the corpus text (q283 mines the list, q286 routes
    * sources to the pass, this CUTS): every winnowing-SELECTED position
    * whose fingerprint is on the mined list becomes a k-char span;
    * touching/overlapping spans merge per doc (gaps-and-islands) and
    * the text is cut through [[Dedup]]'s shared span machinery (q175).
    * Winnowing guarantees a selected gram in every window of w
    * consecutive grams inside a shared region, and k > w means
    * consecutive selected spans OVERLAP — the cut is contiguous across
    * a boilerplate block, not confetti (edges taper where grams cross
    * into doc-specific text and stop being corpus-frequent). Docs
    * carrying no mined fp pass through byte-identical.
    *
    * Scale shape: the mined list is tiny by construction (df ≥ minDf
    * shared templates) — broadcast; one positional winnowing pass over
    * the corpus; the island merge windows over each doc's few hits.
    * @return (id, n_spans, removed_chars, clean_len, clean_text) */
  def stripBoilerplate(corpus: DataFrame, minedFps: DataFrame,
      idCol: String, textCol: String, k: Int = 25,
      w: Int = 8): DataFrame = {
    val hits = winnowingPositions(corpus, idCol, textCol, k, w)
      .join(broadcast(minedFps.select(col("fp"))), Seq("fp"))
      .select(col("id"), col("pos").cast("int").as("pos"))
    Dedup.cutSpans(corpus, idCol, textCol, hits, k)
  }

  /** Per-row strip kernel — [[stripBoilerplate]]'s whole pipeline
    * (positional selection → mined filter → island merge → cut) fused
    * into ONE stateless function of the document alone, for the
    * STREAMING ingest path where the batch form's merge window would
    * be a second stateful operator. Island semantics match
    * [[Dedup.cutSpans]] exactly (new island iff pos strictly exceeds
    * the previous end; touching spans merge), so streaming == batch is
    * gated hash-equal (q291 vs q287).
    * @return (n_spans, removed_chars, clean_len, clean_text) */
  def stripKernel(text: String, mined: scala.collection.Set[Long],
      k: Int, w: Int): (Long, Long, Long, String) = {
    val t = if (text == null) "" else text
    val pws = winnowingPositionsKernel(t, k, w) // ascending positions
    var nSpans = 0L
    var removed = 0L
    val sb = new java.lang.StringBuilder
    var cur = 0
    var s = -1
    var e = -1
    var i = 0
    while (i < pws.length) {
      val (pL, fp) = pws(i)
      if (mined.contains(fp)) {
        val p = pL.toInt
        if (s < 0) { s = p; e = p + k }
        else if (p > e) {
          sb.append(t, cur, s); removed += e - s; nSpans += 1; cur = e
          s = p; e = p + k
        } else e = p + k
      }
      i += 1
    }
    if (s >= 0) {
      sb.append(t, cur, s); removed += e - s; nSpans += 1; cur = e
    }
    sb.append(t, cur, t.length)
    val clean = sb.toString
    (nSpans, removed, clean.length.toLong, clean)
  }

  /** [[stripBoilerplate]] AT INGEST — the streaming member of the
    * template-removal family: the mined strip-list is an epoch-static
    * artifact (tiny by construction), so it rides in the UDF closure
    * and each incoming doc strips itself in one stateless map — ZERO
    * stateful operators, Append-mode safe, no watermark needed. Gated
    * streaming == batch against [[stripBoilerplate]] (q291 == q287's
    * oracle). */
  def stripBoilerplateAtIngest(incoming: DataFrame, minedFps: Array[Long],
      idCol: String, textCol: String, k: Int = 25,
      w: Int = 8): DataFrame = {
    val set: scala.collection.Set[Long] = minedFps.toSet
    val f = udf((t: String) => stripKernel(t, set, k, w))
    incoming.select(col(idCol).as("id"), f(col(textCol)).as("_r"))
      .select(col("id"), col("_r._1").as("n_spans"),
        col("_r._2").as("removed_chars"), col("_r._3").as("clean_len"),
        col("_r._4").as("clean_text"))
  }

  /** SEMANTIC contamination rung — the EMBEDDING-space member of the
    * decontamination ladder (raw 13-gram → normalized 13-gram → char
    * winnowing → here): a training item is flagged when its
    * embedding's cosine to ANY eval-probe embedding reaches `tau`.
    * This is the rung that catches PARAPHRASE leaks: token grams and
    * char fingerprints both die under rewording, but a paraphrase
    * embeds next to its source — and cosine is scale-invariant, so
    * magnitude games don't evade it either.
    *
    * Exact by design: eval sets are tiny, so the probe is a broadcast
    * nested-loop over the corpus — ONE corpus scan, no corpus shuffle,
    * no index to go stale (the [[charContaminationProbe]] shape in
    * vector space). At many-probe scale the SRP band index
    * ([[Similarity.srpTopK]]'s banding) drops in as the candidate
    * filter with this as the verifier. Zero-norm rows can't flag
    * (0/0 cosine is NaN, and Spark sorts NaN above every double — the
    * [[Similarity.bruteTopK]] guard).
    * @param train    (id, v ARRAY&lt;DOUBLE&gt;)
    * @param evalVecs (eid, v ARRAY&lt;DOUBLE&gt;) — the probe set
    * @return flagged train rows (id, n_probes_hit, max_sim round-6) */
  def semanticContamination(train: DataFrame, evalVecs: DataFrame,
      tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val t = train.select(col("id"), col("v"))
      .withColumn("_tn", normFast(col("v"))).filter(col("_tn") > 0)
    val e = evalVecs.select(col("eid"), col("v").as("_ev"))
      .withColumn("_en", normFast(col("_ev"))).filter(col("_en") > 0)
    t.crossJoin(broadcast(e))
      .withColumn("_sim",
        cosinePre(dotFast(col("v"), col("_ev")), col("_tn"), col("_en")))
      .filter(col("_sim") >= tau)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_probes_hit"),
        round(max(col("_sim")), 6).as("max_sim"))
  }

  /** [[semanticContamination]]'s SCALE PATH — SRP-banded candidate
    * generation before the exact verify, for when the probe set
    * outgrows the broadcast nested-loop (a full benchmark suite's
    * embeddings against a 100 TB corpus): both sides band on the
    * signed-random-projection signature, only band-bucket COLLISIONS
    * are scored (the [[Similarity.srpTopK]] index shape with the query
    * side broadcast), and the exact cosine + τ decide — so a flag here
    * is never approximate, only a MISS can be (the classic LSH
    * trade, audited by gating this against the exact form's output).
    * @param train    (id, v ARRAY&lt;DOUBLE&gt;)
    * @param evalVecs (eid, v ARRAY&lt;DOUBLE&gt;)
    * @return flagged train rows (id, n_probes_hit, max_sim round-6) —
    *         [[semanticContamination]]'s shape, possibly missing rows
    *         whose probe never collides in any band */
  def semanticContaminationBanded(train: DataFrame, evalVecs: DataFrame,
      tau: Double, planes: Int = 16, bandBits: Int = 4,
      seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions._
    require(planes % bandBits == 0, s"bad bands planes=$planes bits=$bandBits")
    val nBands = planes / bandBits
    val buckets = array((0 until nBands).map(b =>
      shiftrightunsigned(col("sig"), b * bandBits)
        .bitwiseAND(lit((1 << bandBits) - 1))): _*)
    def base(df: DataFrame, idc: String): DataFrame =
      df.select(col(idc).as("_bid"), col("v").as("_bv"),
        srpSignatureD(col("v"), planes, seed).as("sig"),
        normFast(col("v")).as("_bn"))
        .filter(col("_bn") > 0)
    def banded(df: DataFrame, idc: String, outId: String): DataFrame =
      base(df, idc).select(col("_bid").as(outId),
        posexplode(buckets).as(Seq("band", "bucket")))
    val cand = banded(train, "id", "id")
      .join(broadcast(banded(evalVecs, "eid", "eid")),
        Seq("band", "bucket"))
      .select(col("id"), col("eid")).distinct()
    val tVecs = base(train, "id")
      .select(col("_bid").as("id"), col("_bv").as("v"), col("_bn").as("_tn"))
    val eVecs = base(evalVecs, "eid")
      .select(col("_bid").as("eid"), col("_bv").as("_ev"), col("_bn").as("_en"))
    cand.join(tVecs, Seq("id")).join(broadcast(eVecs), Seq("eid"))
      .withColumn("_sim",
        cosinePre(dotFast(col("v"), col("_ev")), col("_tn"), col("_en")))
      .filter(col("_sim") >= tau)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_probes_hit"),
        round(max(col("_sim")), 6).as("max_sim"))
  }

  /** SUFFICIENT STATISTICS for the per-source data card (q290's
    * columns), maintained incrementally — the
    * [[graft.operators.Bm25.IndexStats]] discipline on the release
    * card so a daily batch never re-scans the epoch:
    *  - `rows` (id, source, lang, tk, pii, contam, th): per-doc local
    *    facts — token count, PII-battery flag, contamination flag
    *    against the FIXED epoch eval set (an eval-set change is a
    *    rebuild, stated loudly), and the 64-bit text hash. Append =
    *    union; delete = anti-join.
    *  - `hashCnt` (th, cnt): text-hash occurrence counts — the dup
    *    column derives from cnt ≥ 2 at CARD TIME (a deletion can
    *    un-dup the surviving partner, so the flag is never stored).
    *    Append and delete are one [[KeyedFold.mergeCounts]] (positive
    *    or negated deltas; zeros drop). Dup equality is by xxhash64(text):
    *    codegen'd, no text shuffle; a collision would misclassify one
    *    pair per ~2^64 — the oracle gate compares against full-text
    *    grouping, so any collision at gated scale would fail loudly.
    *  - `winIdx` (id, fp): the winnowing postings
    *    ([[upsertWinnowingIndex]] / [[removeFromWinnowingIndex]]);
    *    the boilerplate column derives at card time via the df bar
    *    ([[boilerplateFingerprintsFromIndex]]'s agg), because
    *    maintenance SHIFTS df and carrier-ship must follow it. */
  final case class CardStats(rows: DataFrame, hashCnt: DataFrame,
      winIdx: DataFrame)

  /** Build [[CardStats]] from a corpus (full-recompute path; also the
    * per-batch delta builder). `evalSet` is the epoch's benchmark
    * probe set (13-gram raw basis, q290's contamination column). */
  def cardStats(corpus: DataFrame, idCol: String, srcCol: String,
      langCol: String, textCol: String, evalSet: DataFrame,
      k: Int = 25, w: Int = 8): CardStats = {
    val pc = TextFunctions.piiBatteryCounts(col(textCol)).toMap
    val contamIds = ngramContamination(corpus, evalSet, idCol, textCol,
      n = 13).select(col("id")).withColumn("_cf", lit(1L))
    val rows = corpus.select(col(idCol).as("id"), col(srcCol).as("source"),
        col(langCol).as("lang"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("tk"),
        when((pc("n_emails") + pc("n_ids") + pc("n_longids") +
          pc("n_phones")) > 0, 1L).otherwise(0L).as("pii"),
        xxhash64(col(textCol)).as("th"))
      .join(contamIds, Seq("id"), "left")
      .select(col("id"), col("source"), col("lang"), col("tk"),
        col("pii"), coalesce(col("_cf"), lit(0L)).as("contam"), col("th"))
    val hashCnt = rows.groupBy(col("th")).agg(count(lit(1)).as("cnt"))
    CardStats(rows, hashCnt,
      winnowingFingerprints(corpus, idCol, textCol, k, w))
  }

  /** Fold an APPEND-ONLY batch into the card statistics (batch ids must
    * be NEW; update = [[removeCardStats]] ∘ upsert): rows and winIdx
    * union, hashCnt by [[KeyedFold.mergeCounts]]. The eval set must be
    * the SAME epoch set the base was built with. */
  def upsertCardStats(base: CardStats, batch: DataFrame, idCol: String,
      srcCol: String, langCol: String, textCol: String,
      evalSet: DataFrame, k: Int = 25, w: Int = 8): CardStats = {
    val b = cardStats(batch, idCol, srcCol, langCol, textCol, evalSet, k, w)
    CardStats(
      rows = base.rows.unionByName(b.rows),
      hashCnt = KeyedFold.mergeCounts("th", "cnt", base.hashCnt, b.hashCnt),
      winIdx = base.winIdx.unionByName(b.winIdx))
  }

  /** Delete documents from the card statistics: rows and winIdx by
    * [[KeyedFold.removeByKey]] on id, hashCnt by
    * [[KeyedFold.mergeCounts]] with the deleted docs' hash counts
    * negated — read off `rows`, so no text touch. */
  def removeCardStats(base: CardStats, deletedIds: DataFrame,
      idCol: String): CardStats = {
    val ids = deletedIds.select(col(idCol).as("id"))
    val hDelta = base.rows
      .join(KeyedFold.deleteSide(ids, "id"), Seq("id"), "left_semi")
      .groupBy(col("th")).agg((-count(lit(1))).as("cnt"))
    CardStats(
      rows = KeyedFold.removeByKey(base.rows, ids, "id"),
      hashCnt = KeyedFold.mergeCounts("th", "cnt", base.hashCnt, hDelta),
      winIdx = removeFromWinnowingIndex(base.winIdx, ids, "id"))
  }

  /** Derive the per-source release card (q290's shape minus the
    * plant-specific columns) from maintained [[CardStats]]: dup flags
    * from the hash counts, boilerplate carriers from the winnowing
    * postings under the df bar — both GLOBAL facts recomputed from the
    * stats at card time because maintenance shifts them. */
  def dataCardFromStats(s: CardStats, minDf: Long = 25L): DataFrame = {
    val dupIds = s.rows
      .join(s.hashCnt.filter(col("cnt") >= 2).select(col("th")),
        Seq("th"), "left_semi")
      .select(col("id")).withColumn("_dup", lit(1L))
    val mined = s.winIdx.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf).select(col("fp"))
    val boilerIds = s.winIdx.join(broadcast(mined), Seq("fp"))
      .select(col("id")).distinct().withColumn("_boi", lit(1L))
    s.rows
      .join(dupIds, Seq("id"), "left")
      .join(boilerIds, Seq("id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tk")).as("n_tokens"),
        sum(coalesce(col("_dup"), lit(0L))).as("dup_docs"),
        sum(col("pii")).as("pii_docs"),
        sum(col("contam")).as("contam_docs"),
        sum(coalesce(col("_boi"), lit(0L))).as("boiler_docs"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("nonen_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("dup_docs"), col("pii_docs"), col("contam_docs"),
        col("boiler_docs"), col("nonen_docs"),
        expr("dup_docs * 1000000 DIV n_docs").as("dup_micro"))
  }

  /** CHAR-LEVEL contamination report over winnowing fingerprints — the
    * probe that catches partial-overlap leaks SHORTER than the token
    * filters' n ([[evalContaminationReport]] at n=13 is blind to any
    * leak under 13 tokens; this fires from k+w−1 chars ≈ 5 tokens).
    * Per EVAL doc: fingerprint count, how many of its fingerprints
    * appear anywhere in the training corpus, and the verdict.
    *
    * Scale shape (the q222 discipline): the eval fingerprints — small
    * by definition — BROADCAST; the training side streams through the
    * map-side hash join with no corpus shuffle, and only matched
    * (id, fp) pairs reach the one distinct-aggregate. */
  def charContaminationReport(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, k: Int = 25,
      w: Int = 8): DataFrame =
    charContaminationProbe(
      winnowingFingerprints(train, idCol, textCol, k, w),
      evalSet, idCol, textCol, k, w)

  /** [[charContaminationReport]] against a PREBUILT winnowing index —
    * the serve path of the contamination index's maintenance cycle
    * (build once with [[winnowingFingerprints]], fold daily batches
    * with [[upsertWinnowingIndex]], curate with
    * [[removeFromWinnowingIndex]], probe here without re-fingerprinting
    * the corpus). `index` is the (id, fp) postings frame. */
  def charContaminationProbe(index: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, k: Int = 25,
      w: Int = 8): DataFrame = {
    val efp = winnowingFingerprints(evalSet, idCol, textCol, k, w)
    val tfp = index.select(col("fp"))
    val hits = tfp.join(broadcast(efp), Seq("fp"))
      .groupBy(col("id"))
      .agg(countDistinct(col("fp")).as("n_dirty_fp"))
    val counts = efp.groupBy(col("id")).agg(count(lit(1)).as("n_fp"))
    evalSet.select(col(idCol).as("id"))
      .join(counts, Seq("id"), "left")
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_dirty_fp"), lit(0L)).as("n_dirty_fp"),
        when(coalesce(col("n_dirty_fp"), lit(0L)) > 0, "dirty")
          .otherwise("clean").as("verdict"))
  }

  /** BOILERPLATE FINGERPRINT MINER — the strip-list a template-removal
    * pass consumes: winnowing fingerprints whose document frequency
    * exceeds `minDf` are SHARED text (headers, footers, license
    * blocks) — exactly the fps [[winnowingDupCandidates]] df-caps away
    * as non-evidence of copying. Reported with df and source spread
    * (template text crosses sources; a popular quote usually doesn't)
    * so a reviewer can triage before stripping.
    * Scale shape: one winnowing pass, one id-keyed join to attach the
    * source, one fp-keyed agg — no pairing, no text shuffle. */
  def boilerplateFingerprints(corpus: DataFrame, idCol: String,
      textCol: String, srcCol: String, k: Int = 25, w: Int = 8,
      minDf: Long = 25L): DataFrame =
    boilerplateFingerprintsFromIndex(
      winnowingFingerprints(corpus, idCol, textCol, k, w),
      corpus.select(col(idCol).as("id"), col(srcCol).as("_src")), minDf)

  /** [[boilerplateFingerprints]] over a MAINTAINED winnowing index —
    * the strip-list is one df-aggregation over the (id, fp) postings,
    * so an epoch kept current with [[upsertWinnowingIndex]] /
    * [[removeFromWinnowingIndex]] re-mines WITHOUT re-fingerprinting
    * any text (and a deletion that drops a template's carriers below
    * `minDf` correctly drops it from the strip-list — the q295 gate).
    * `meta` is (id, _src) — ids absent from it contribute df but no
    * source spread, so keep it in lockstep with the index. */
  def boilerplateFingerprintsFromIndex(index: DataFrame, meta: DataFrame,
      minDf: Long): DataFrame = {
    require(minDf >= 2, s"bad minDf $minDf")
    index.join(meta, Seq("id"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("df"),
        countDistinct(col("_src")).as("n_sources"))
      .filter(col("df") >= minDf)
  }

  /** Span-evidence dedup verdicts — keep-one over
    * [[dupCandidateSpans]] pairs whose exact shared span reaches
    * `minSpan` chars: a document DROPS iff it shares a long-enough
    * span with any LOWER-id document (the keep-lowest-id neighbor
    * rule). This is the char-level dedup decision made on VERIFIED
    * extent rather than fingerprint-count heuristics — a 150-char
    * lifted passage drops the quoter; two docs sharing scattered
    * 25-char runs don't.
    * @return (doc_id, verdict, max_span, n_partners) for every doc
    *         appearing in a qualifying pair */
  def spanDedupVerdicts(corpus: DataFrame, idCol: String,
      textCol: String, minSpan: Long, k: Int = 25, w: Int = 8,
      minShared: Int = 2, maxDf: Int = 20): DataFrame = {
    val qual = dupCandidateSpans(corpus, idCol, textCol, k, w,
      minShared, maxDf).filter(col("span_chars") >= minSpan)
    val sides = qual.select(col("idA").as("doc_id"),
        col("idB").as("partner"), col("span_chars"))
      .unionByName(qual.select(col("idB").as("doc_id"),
        col("idA").as("partner"), col("span_chars")))
    sides.groupBy(col("doc_id"))
      .agg(max(col("span_chars")).as("max_span"),
        count(lit(1)).as("n_partners"),
        min(col("partner")).as("_minp"))
      .select(col("doc_id"),
        when(col("_minp") < col("doc_id"), "drop").otherwise("keep")
          .as("verdict"),
        col("max_span"), col("n_partners"))
  }

  /** DAILY-BATCH maintenance for the winnowing contamination index —
    * the [[graft.operators.Bm25.upsertIndexStats]] discipline on the
    * char-contamination tier: the (id, fp) postings are per-row
    * functions of each doc's own text (nothing global), so append IS
    * maintenance — a union, no merge. Contract: batch ids must be NEW
    * (update = [[removeFromWinnowingIndex]] ∘ upsert). */
  def upsertWinnowingIndex(base: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, k: Int = 25,
      w: Int = 8): DataFrame =
    base.unionByName(winnowingFingerprints(batch, idCol, textCol, k, w))

  /** Deletion for the winnowing index: postings are per-doc, so delete
    * is [[KeyedFold.removeByKey]] on id. The pipeline's own
    * dedup/excision removes training docs, and a stale contamination
    * index would keep flagging eval docs against text that no longer
    * trains. */
  def removeFromWinnowingIndex(index: DataFrame,
      deletedIds: DataFrame, idCol: String): DataFrame =
    KeyedFold.removeByKey(index, deletedIds.select(col(idCol).as("id")),
      "id")

  /** Per-TRAIN-doc contamination verdict at INGEST — the reverse
    * direction of [[charContaminationReport]] (which scores eval docs):
    * here each incoming TRAINING doc is asked "do you contain benchmark
    * text?" so leaks are quarantined before they ever train. The shape
    * is STREAM-SAFE by construction: fingerprints are a stateless
    * per-row kernel, the eval fingerprint set (static, tiny) joins
    * broadcast, and the ONE stateful operator is the per-doc count
    * aggregation — drop this behind readStream and it is the
    * contamination filter of a streaming ingest pipeline (gated q270
    * streaming == batch). `evalFps` must be pre-distincted (one row per
    * fingerprint). Docs shorter than k chars carry no fingerprints and
    * are absent from the output (nothing to quarantine on). */
  def ingestContaminationVerdicts(incoming: DataFrame, evalFps: DataFrame,
      idCol: String, textCol: String, k: Int = 25,
      w: Int = 8): DataFrame =
    winnowingFingerprints(incoming, idCol, textCol, k, w)
      .join(broadcast(evalFps.select(col("fp")).withColumn("_hit", lit(1))),
        Seq("fp"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_dirty"))
      .select(col("id"), col("n_fp"), col("n_dirty"),
        when(col("n_dirty") > 0, "dirty").otherwise("clean").as("verdict"))

  /** CROSS-DOC duplicate candidates over winnowing fingerprints — the
    * MOSS pairing: two docs sharing ≥ `minShared` selected fingerprints
    * are quote/boilerplate-overlap candidates, catching char-level
    * copying (a lifted paragraph, a reformatted quote) that word-gram
    * dedup under-reports. Fingerprints with document frequency >
    * `maxDf` are dropped BEFORE pairing — a fingerprint in hundreds of
    * docs is boilerplate, not copying, and it alone would make the
    * fp-blocked self-join quadratic in that fp's posting (the LSH
    * band-bucket cap, same reasoning as stopword df-caps).
    *
    * Scale shape: fingerprints are the blocking key — one fp-keyed
    * self-join over the df-capped posting lists (≤ maxDf² pairs per
    * fp), then a (idA, idB) count agg; never all-pairs.
    * @return (idA, idB, n_shared) with idA < idB */
  def winnowingDupCandidates(corpus: DataFrame, idCol: String,
      textCol: String, k: Int = 25, w: Int = 8, minShared: Int = 2,
      maxDf: Int = 20): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"bad params minShared=$minShared maxDf=$maxDf")
    val fps = winnowingFingerprints(corpus, idCol, textCol, k, w)
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select(col("fp"))
    val capped = fps.join(rare, Seq("fp"), "left_semi")
    capped.select(col("fp"), col("id").as("idA"))
      .join(capped.select(col("fp"), col("id").as("idB")), Seq("fp"))
      .filter(col("idA") < col("idB"))
      .groupBy(col("idA"), col("idB"))
      .agg(count(lit(1)).as("n_shared")) // (id, fp) unique by kernel dedup
      .filter(col("n_shared") >= minShared)
  }

  /** EXACT longest shared span per [[winnowingDupCandidates]] pair —
    * the verification stage of the MOSS pipeline: fingerprint overlap
    * counts (`n_shared`) rank candidates, but the decision "is this a
    * lifted paragraph or scattered boilerplate" needs the actual
    * extent, so each candidate pair gets its exact longest common
    * substring and maximal-run count via the same diagonal extension
    * as [[leakedSpans]]. Per-position grams materialize ONLY for docs
    * appearing in some candidate pair (broadcast semi-joins), so the
    * full-corpus cost stays the winnowing pass; the gram match is an
    * equi-join on the 8-byte hash filtered to candidate pairs.
    * @return (idA, idB, n_shared, span_chars, n_runs) with idA < idB */
  def dupCandidateSpans(corpus: DataFrame, idCol: String,
      textCol: String, k: Int = 25, w: Int = 8, minShared: Int = 2,
      maxDf: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = winnowingDupCandidates(corpus, idCol, textCol, k, w,
      minShared, maxDf)
    val gh = udf((t: String) => gramHashes(t, k))
    def side(tag: String): DataFrame = corpus
      .join(broadcast(pairs.select(col(tag)).distinct()),
        corpus(idCol) === col(tag), "left_semi")
      .select(col(idCol).as(tag),
        posexplode(gh(col(textCol))).as(Seq(s"i$tag", "h")))
    val matches = side("idA").join(side("idB"), Seq("h"))
      .join(broadcast(pairs.select(col("idA"), col("idB"))),
        Seq("idA", "idB"), "left_semi")
      .select(col("idA"), col("idB"),
        (col("iidA") - col("iidB")).as("d"), col("iidB").as("ei"))
    val byDiag = Window.partitionBy(col("idA"), col("idB"), col("d"))
      .orderBy(col("ei"))
    matches
      .withColumn("grp", col("ei") - row_number().over(byDiag))
      .groupBy(col("idA"), col("idB"), col("d"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("idA"), col("idB"))
      .agg((max(col("run")) + lit(k - 1)).cast("long").as("span_chars"),
        count(lit(1)).as("n_runs"))
      .join(pairs, Seq("idA", "idB"))
      .select(col("idA"), col("idB"), col("n_shared"), col("span_chars"),
        col("n_runs"))
  }

  /** EXACT longest-leaked-span per (train, eval) candidate pair — the
    * forensic layer over [[charContaminationReport]]'s boolean verdict:
    * not just "dirty" but HOW MUCH text leaked and from WHERE. Two
    * stages: (1) winnowing fingerprints nominate candidate pairs
    * (guaranteed to catch any shared run ≥ k+w−1 chars); (2) for
    * candidate docs only, ALL positional k-gram hashes are matched and
    * extended along diagonals — a common substring of length L ≥ k
    * produces exactly L−k+1 consecutive matches with constant
    * offset ti−ei, so the longest diagonal run r gives the EXACT
    * longest common substring length r+k−1 (the seed-and-extend
    * argument; equal-hash = equal-gram up to fnv1a64 collisions, which
    * both engines share). `n_runs` counts maximal leaked runs — one
    * lifted paragraph reads as one run, scattered quoting as many.
    *
    * Scale shape: the eval side (small by definition) broadcasts at
    * every step; train docs are pruned to candidate ids via a
    * broadcast semi-join BEFORE per-position grams materialize, so the
    * full-corpus cost stays the winnowing pass (selected fps only) and
    * the quadratic-looking extension touches only nominated docs. The
    * diagonal islands are one window + two aggs, all partitioned by
    * (pair, diagonal) — no global sort.
    * @return (train_id, eval_id, span_chars, n_runs) */
  def leakedSpans(train: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, k: Int = 25, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val efp = winnowingFingerprints(evalSet, idCol, textCol, k, w)
      .select(col("id").as("eval_id"), col("fp"))
    val tfp = winnowingFingerprints(train, idCol, textCol, k, w)
      .select(col("id").as("train_id"), col("fp"))
    val pairs = tfp.join(broadcast(efp), Seq("fp"))
      .select(col("train_id"), col("eval_id")).distinct()
    val gh = udf((t: String) => gramHashes(t, k))
    val eg = evalSet.select(col(idCol).as("eval_id"),
      posexplode(gh(col(textCol))).as(Seq("ei", "h")))
    val tg = train
      .join(broadcast(pairs.select(col("train_id")).distinct()),
        train(idCol) === col("train_id"), "left_semi")
      .select(col(idCol).as("train_id"),
        posexplode(gh(col(textCol))).as(Seq("ti", "h")))
    val matches = tg.join(broadcast(eg), Seq("h"))
      .join(broadcast(pairs), Seq("train_id", "eval_id"), "left_semi")
      .select(col("train_id"), col("eval_id"),
        (col("ti") - col("ei")).as("d"), col("ei"))
    val byDiag = Window.partitionBy(col("train_id"), col("eval_id"),
      col("d")).orderBy(col("ei"))
    matches
      .withColumn("grp", col("ei") - row_number().over(byDiag))
      .groupBy(col("train_id"), col("eval_id"), col("d"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg((max(col("run")) + lit(k - 1)).cast("long").as("span_chars"),
        count(lit(1)).as("n_runs"))
  }

  /** Documents sharing at least one word `n`-gram with `evalSet` —
    * GPT-3-style benchmark decontamination, reported as
    * (id, n_shared BIGINT = distinct overlapping grams).
    * Self-containment: callers exclude eval ids from `corpus` if the two
    * overlap (the query layer does).
    *
    * `hashGrams = true` joins on fnv1a64(gram) instead of the gram string
    * — the 100 TB form: an 8-byte join key instead of an ~n-word string
    * shrinks the broadcast and the probe-side hashing. n_shared counts
    * then ride on 64-bit fingerprints (collision odds ~|eval grams|²/2⁶⁴
    * — negligible, and an equivalence spec pins both paths identical on
    * the test corpus). Default false so the q89 oracle compares raw
    * grams.
    *
    * `normalized = true` shingles the lowercased `\w+` word stream
    * instead of raw whitespace tokens (GPT-3 appendix C): raw grams are
    * case- and punctuation-sensitive, so a reformatted leak ("The Cat,
    * Sat." for "the cat sat") evades them — the normalized variant is
    * the one to DEFEND with; raw stays for byte-exact audits. */
  def ngramContamination(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int,
      hashGrams: Boolean = false, normalized: Boolean = false): DataFrame = {
    // fused JVM shingle kernel, not the expression form: interpreted
    // higher-order lambdas cost ~4 s / 10k docs and dominated the bench
    def grams(df: DataFrame, withId: Boolean): DataFrame = {
      val raw = explode(shingles(col(textCol), n, normalized)).as("gram")
      val sel = if (withId) df.select(col(idCol).as("id"), raw)
                else df.select(raw)
      if (hashGrams) sel.withColumn("gram", TextFunctions.fnv1a64Col(col("gram")))
      else sel
    }
    val evalGrams = grams(evalSet, withId = false).distinct()
    grams(corpus, withId = true)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared")) // grams already distinct per doc
  }

  /** EVAL-SIDE contamination report — the direction [[ngramContamination]]
    * doesn't cover: for each EVAL document, the fraction of its distinct
    * word n-grams that appear anywhere in the training corpus, plus the
    * GPT-3-style verdict (any collision → 'dirty'; release reports then
    * quote benchmark metrics on the clean subset separately). Output per
    * eval doc: (id, n_grams, n_dirty, overlap, verdict); docs too short
    * to carry a gram report n_grams = 0 / clean.
    *
    * Scale shape: the roles flip relative to [[ngramContamination]] — the
    * PROBE side (the training corpus) is the 100-TB side, so the eval
    * (id, gram) pairs broadcast and training grams stream through a
    * map-side hash join with no corpus shuffle; only matched pairs
    * (bounded by eval gram count × multiplicity, deduped by the partial
    * distinct-aggregate) reach the one small shuffle.
    *
    * `normalized` = the [[ngramContamination]] normalization contract:
    * the defense variant matches lowercased punctuation-free grams so
    * a reformatted leak is still caught. */
  def evalContaminationReport(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int,
      normalized: Boolean = false): DataFrame = {
    val eg = evalSet.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n, normalized)).as("gram"))
    val tg = train.select(
      explode(shingles(col(textCol), n, normalized)).as("gram"))
    val hits = tg.join(broadcast(eg), Seq("gram"))
      .groupBy(col("id"))
      .agg(countDistinct(col("gram")).as("n_dirty"))
    val counts = evalSet.select(col(idCol).as("id"),
      size(shingles(col(textCol), n, normalized))
        .cast("long").as("n_grams"))
    counts.join(hits, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_dirty"), lit(0L)).as("n_dirty"),
        when(col("n_grams") > 0,
          round(coalesce(col("n_dirty"), lit(0L)).cast("double")
            / col("n_grams"), 6)).otherwise(lit(0.0)).as("overlap"),
        when(coalesce(col("n_dirty"), lit(0L)) > 0, lit("dirty"))
          .otherwise(lit("clean")).as("verdict"))
  }

  /** The shingle-basis chooser shared by the contamination family:
    * raw whitespace grams (byte-exact audits) or normalized lowercase
    * `\w+` grams (the defense basis — see [[ngramContamination]]). */
  private[operators] def shingles(text: Column, n: Int,
      normalized: Boolean): Column =
    if (normalized) TextFunctions.normalizedDistinctShinglesCol(text, n)
    else TextFunctions.distinctShinglesCol(text, n)

  /** The cleaning form: corpus minus every contaminated document (one
    * anti-join against [[ngramContamination]] ids). */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val bad = ngramContamination(corpus, evalSet, idCol, textCol, n)
      .select(col("id").as(idCol))
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** EMBEDDING DRIFT — per-group cosine between the OLD and NEW epochs'
    * centroid vectors, [[corpusDriftKl]]'s dense sibling: the monitor
    * that catches an embedding-model version bump or a topical shift
    * in a source before semantic dedup / ANN indexes silently degrade.
    *
    * Exactness at scale: float sums are order-dependent, so components
    * quantize to integer MICROS per row first — per-(group, dim) sums
    * are then associative integer aggregations immune to partition
    * order; the centroid component re-rounds once to integer micros
    * (mean = exact-integer double division), the dot/norms are exact
    * BIGINT products (|x| ≤ ~3e6 micro, ≤ 4096 dims stays < 2⁶³), and
    * cosine pays one sqrt/division/round at the end.
    *
    * @return per group: (group, n_old, n_new, cos_sim) */
  def embeddingDriftCos(oldVecs: DataFrame, newVecs: DataFrame,
      groupCol: String, vecCol: String): DataFrame = {
    def centroid(df: DataFrame, tag: String): DataFrame = df
      .select(col(groupCol).as("g"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("g"), col("dim"))
      .agg(sum(round(col("x") * lit(1000000)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("g"), col("dim"),
        round(col("s").cast("double") / col("n")).cast("long").as(s"m_$tag"),
        col("n").as(s"n_$tag"))
    val o = centroid(oldVecs, "old")
    val n = centroid(newVecs, "new")
    o.join(n, Seq("g", "dim"))
      .groupBy(col("g"))
      .agg(max(col("n_old")).as("n_old"), max(col("n_new")).as("n_new"),
        sum(col("m_old") * col("m_new")).as("dot"),
        sum(col("m_old") * col("m_old")).as("na"),
        sum(col("m_new") * col("m_new")).as("nb"))
      .select(col("g").as(groupCol), col("n_old"), col("n_new"),
        round(col("dot").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          6).as("cos_sim"))
  }

  /** CORPUS DRIFT — smoothed unigram KL divergence KL(new ‖ old) between
    * two corpus versions, the dataset-shift monitor a pipeline runs
    * between crawls/epochs before retraining on the new dump. Add-one
    * smoothing over the JOINT vocabulary V:
    *   p_t = (c_new+1)/(T_new+|V|),  q_t = (c_old+1)/(T_old+|V|)
    *   contrib_micro(t) = round(ln((c_new+1)(T_old+|V|)
    *                         / ((c_old+1)(T_new+|V|))) · (c_new+1) · 1e6
    *                         / (T_new+|V|))
    * — one ln of an exact integer ratio per TERM (the q210/q188
    * micro-nat discipline; ulp differences absorbed by the single
    * rounding), so kl_total_micro = Σ contrib is an associative integer
    * sum. Report = the top-k drift contributors by |contrib| with the
    * corpus-wide total and vocab size attached.
    *
    * Scale shape: two combiner-friendly term groupBys, one full-outer
    * join on term, 1-row totals broadcast, TakeOrdered top-k; every
    * frame is vocab-sized, never corpus-sized.
    *
    * @return top-k rows (term, c_old, c_new, contrib_micro,
    *         kl_total_micro, n_vocab) by (|contrib| DESC, term) */
  def corpusDriftKl(oldCorpus: DataFrame, newCorpus: DataFrame,
      textCol: String, k: Int = 20): DataFrame =
    corpusDriftKlFromCounts(
      termCounts(oldCorpus, textCol).withColumnRenamed("c", "co"),
      termCounts(newCorpus, textCol).withColumnRenamed("c", "cn"), k)

  /** Per-corpus token counts (term, c) — the drift monitor's sufficient
    * statistic, exposed so a STREAMING epoch can accumulate it as its
    * one stateful aggregation (q248) and an epoch roll can persist it. */
  def termCounts(df: DataFrame, textCol: String): DataFrame = df
    .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    .filter(length(col("term")) > 0)
    .groupBy(col("term")).agg(count(lit(1)).as("c"))

  /** [[corpusDriftKl]] over precomputed counts — (term, co) × (term, cn).
    * Same arithmetic, same output. */
  def corpusDriftKlFromCounts(oldCounts: DataFrame, newCounts: DataFrame,
      k: Int = 20): DataFrame = {
    val v = oldCounts.join(newCounts, Seq("term"), "full_outer")
      .select(col("term"), coalesce(col("co"), lit(0L)).as("co"),
        coalesce(col("cn"), lit(0L)).as("cn"))
    val tot = v.agg(sum(col("co")).as("tol"), sum(col("cn")).as("tnw"),
      count(lit(1)).as("nv"))
    val contrib = v.crossJoin(broadcast(tot))
      .withColumn("contrib_micro",
        round(log(((col("cn") + 1) * (col("tol") + col("nv"))).cast("double")
            / ((col("co") + 1) * (col("tnw") + col("nv"))).cast("double"))
          * (col("cn") + 1) * lit(1000000.0) / (col("tnw") + col("nv")))
          .cast("long"))
    val klt = contrib.agg(sum(col("contrib_micro")).as("kl_total_micro"))
    contrib.crossJoin(broadcast(klt))
      .select(col("term"), col("co").as("c_old"), col("cn").as("c_new"),
        col("contrib_micro"), col("kl_total_micro"),
        col("nv").as("n_vocab"))
      .orderBy(abs(col("contrib_micro")).desc, col("term").asc)
      .limit(k)
  }

  /** CODE-SWITCHING REPORT — per-document line-level language
    * disagreement (the CCNet-style mixed-language quality signal): each
    * line gets the stopword-marker langId, and the doc reports how its
    * lines disagree. `n_langs` counts distinct REAL languages ('und'
    * lines — too short to carry a marker — are not a language, so an
    * en+und doc is NOT mixed); `dom_lang` is the most common line label
    * overall (count DESC, lang ASC — total order), and
    * `minority_frac = (n_lines − dom_n)/n_lines` is the cut knob.
    *
    * Scale shape: explode to lines, one (doc, lang) groupBy with
    * map-side combine, then a doc-partitioned window over ≤6 label rows
    * and a doc-keyed re-aggregation — all traffic keyed by doc id.
    *
    * @return (doc_id, n_lines, n_langs, dom_lang, dom_n, minority_frac,
    *         mixed 0/1) */
  def codeSwitchReport(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ll = corpus.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
      .select(col("doc_id"), TextFunctions.langId(col("line")).as("llang"))
    val cnt = ll.groupBy(col("doc_id"), col("llang"))
      .agg(count(lit(1)).as("c"))
    val dom = cnt.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("c").desc, col("llang").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("llang").as("dom_lang"), col("c").as("dom_n"))
    val tot = cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_lines"),
        sum(when(col("llang") =!= "und", 1L).otherwise(0L)).as("n_langs"))
    tot.join(dom, Seq("doc_id"))
      .select(col("doc_id"), col("n_lines"), col("n_langs"),
        col("dom_lang"), col("dom_n"),
        round((col("n_lines") - col("dom_n")).cast("double")
          / col("n_lines"), 6).as("minority_frac"),
        when(col("n_langs") >= 2, 1L).otherwise(0L).as("mixed"))
  }

  /** WEIGHTED sampling without replacement — priority sampling (Duffield,
    * Lund & Thorup, JACM 2007): each doc draws u = (mix64(id) >>> 32) + 1
    * (a deterministic 32-bit uniform, never 0), priority = w / u, and the
    * sample is the top-k by (priority DESC, id). The (k+1)-th priority is
    * the threshold τ, and each selected doc's Horvitz–Thompson weight
    * max(w, τ) makes Σ est an unbiased estimator of Σ w over the corpus —
    * the sound way to subsample a corpus proportional to token counts
    * while still estimating corpus totals from the sample.
    *
    * Exactness: u < 2³³ and w are both exactly representable in binary64,
    * and IEEE division is correctly rounded, so priority w/u is
    * BIT-IDENTICAL in any engine; the w ≥ τ branch decides by integer
    * cross-multiplication (w·u_τ ≥ w_τ, products < 2⁴⁶), and est is
    * emitted in integer NANO units (the w branch is exact; the τ branch
    * rounds the bit-identical double once).
    *
    * Scale shape: orderBy(limit k+1) compiles to TakeOrderedAndProject —
    * per-partition bounded heaps merged on the driver, NO global sort or
    * shuffle; the k+1 survivors then pay one tiny window + broadcast.
    *
    * @return (rank, id, w, est_nano) for the k selected docs */
  def prioritySample(corpus: DataFrame, idCol: String, weight: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mixU = udf((id: Long) => (TextFunctions.mix64(id) >>> 32) + 1L)
    val base = corpus.select(col(idCol).as("id"), weight.cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("u", mixU(col("id")))
      .withColumn("pri", col("w").cast("double") / col("u"))
    val top = base.orderBy(col("pri").desc, col("id").asc).limit(k + 1)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("pri").desc, col("id").asc)))
    val tau = top.agg(
      max(when(col("rank") === k + 1, col("w"))).as("w_tau"),
      max(when(col("rank") === k + 1, col("u"))).as("u_tau"))
    top.filter(col("rank") <= k).crossJoin(broadcast(tau))
      .select(col("rank").cast("long").as("rank"), col("id"), col("w"),
        when(col("w_tau").isNull ||
            col("w") * col("u_tau") >= col("w_tau"),
          col("w") * lit(1000000000L))
          .otherwise(round(col("w_tau").cast("double") / col("u_tau")
            * lit(1e9)).cast("long"))
          .as("est_nano"))
  }

  /** Per-document repetition features (the "repetitive junk" filter of a
    * quality pipeline): token count, most-frequent-token ratio, `n`-gram
    * count and duplicate-gram ratio. Documents with fewer than `n` tokens
    * (no grams) are excluded. All counts BIGINT, ratios round(…, 6). */
  def repetitionStats(corpus: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = corpus.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val tokStats = toks.groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("max_tok"))
    val grams = corpus.select(col(idCol).as("id"),
      explode(TextFunctions.allShinglesCol(col(textCol), n)).as("gram"))
    val gramStats = grams.groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("gram")).as("n_distinct_grams"))
    tokStats.join(gramStats, Seq("id"))
      .select(col("id"), col("n_tokens"),
        round(col("max_tok").cast("double") / col("n_tokens"), 6)
          .as("top_token_ratio"),
        col("n_grams"),
        round(lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"), 6)
          .as("dup_gram_ratio"))
  }

  /** Global token vocabulary: top `k` tokens by (count desc, token asc) —
    * deterministic total order so the cut at `k` is stable. Lower-cased,
    * empty tokens dropped. */
  def vocabulary(corpus: DataFrame, textCol: String, k: Int): DataFrame =
    corpus.select(explode(TextFunctions.tokens(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)

  /** Fuzzy self-join: pairs within Levenshtein distance 1, found via
    * deletion-neighborhood blocking — each string joins on {itself} ∪
    * {itself with one character deleted}, so a substitution pair meets at
    * the shared deletion and an insert/delete pair meets at the shorter
    * string itself. Verification (levenshtein ≤ 1) restores precision;
    * recall is exact for distance ≤ 1 by construction.
    *
    * Scale shape: candidates form only inside variant-equality buckets —
    * strings emit length+1 variants each, so the join carries
    * O(N·len) slim rows instead of the O(N²) all-pairs product an
    * unblocked `levenshtein(a,b) <= 1` filter would need. The classic
    * FastSS/SymSpell decomposition as two DataFrame ops. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    // deletion of position i = s[1..i-1] ++ s[i+1..]; the array also
    // carries s itself (catches insert/delete pairs via the shorter side).
    // The variant join carries (id, v) ONLY — strings re-attach per
    // deduped candidate (same id-only-shuffle stance as the LSH bucket
    // joins; carrying s through the join would ship O(N·len²) bytes).
    val names = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val variants = names
      .select(col("id"), explode(concat(
        array(col("s")),
        transform(sequence(lit(1), length(col("s"))), i =>
          concat(col("s").substr(lit(1), i - 1),
            col("s").substr(i + 1, length(col("s"))))))).as("v"))
    val a = variants.select(col("id").as("idA"), col("v"))
    val b = variants.select(col("id").as("idB"), col("v"))
    a.join(b, Seq("v"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"))
      .distinct()
      .join(names.select(col("id").as("idA"), col("s").as("sA")), Seq("idA"))
      .join(names.select(col("id").as("idB"), col("s").as("sB")), Seq("idB"))
      // bounded form: early-terminates past the threshold (returns -1)
      // instead of filling the full DP matrix — exact distance for kept
      // rows, so q100's output (and its DuckDB oracle) are unchanged
      .withColumn("dist", levenshtein(col("sA"), col("sB"), 1))
      .filter(col("dist") >= 0)
  }

  // Knuth multiplicative hash mod a prime — identical arithmetic is
  // expressible in DuckDB (Spark's hash() is murmur3, DuckDB's isn't);
  // the id is reduced mod p BEFORE the multiply so the product stays
  // under 2^63 for any 64-bit id (Spark would wrap silently; DuckDB
  // raises an overflow error — divergent)
  private def sampleOrder(id: Column): Column =
    pmod(pmod(id, lit(1000000007L)) * 2654435761L, lit(1000000007L))

  /** Exact-k per-stratum sample: the first `k` rows of each group under a
    * deterministic multiplicative-hash order — the reservoir-sampling
    * contract (exactly min(k, |group|) rows, uniform-ish, reproducible)
    * without RNG state. `idCol` must be an INTEGRAL, non-null key within
    * its stratum (it is the hash input, the tiebreak AND the re-attach
    * key; both forms hash its `cast("long")` so they can never diverge
    * on a non-long integral column).
    *
    * Scale shape: a bounded-heap aggregation ([[graft.plans.TopKAggregator]])
    * — each map task keeps at most k (hash, id) pairs per stratum and the
    * shuffle carries only those, vs the window form which must shuffle and
    * fully SORT every row of every stratum just to keep k. The k×|strata|
    * winners then re-attach to the corpus via a broadcast join (bounded by
    * construction), so the corpus itself is never shuffled at all. */
  def sampleKPerStratum(corpus: DataFrame, stratumCol: String,
      idCol: String, k: Int): DataFrame = {
    // heap order = hash ASC, id ASC; the aggregator ranks score DESC,
    // id ASC, so score = -hash (exact in double: hash < 2^31 < 2^53)
    val picked = corpus
      .select(col(stratumCol).as("_stratum"), col(idCol).cast("long").as("_sid"))
      .groupBy(col("_stratum"))
      .agg(graft.plans.TopKAggregator.top_k(k)(
        -sampleOrder(col("_sid")).cast("double"), col("_sid")).as("_top"))
      .select(col("_stratum"), posexplode(col("_top")).as(Seq("_pos", "_pick")))
      .select(col("_stratum"), (col("_pos") + 1).cast("int").as("sample_rank"),
        col("_pick.id").as("_sid"))
    corpus.join(broadcast(picked),
        corpus(stratumCol) <=> picked("_stratum") &&
          col(idCol).cast("long") === picked("_sid"))
      .drop("_stratum", "_sid")
  }

  /** Deterministic hash-Bernoulli sampling — the RATE-based sampler
    * next to [[sampleKPerStratum]]'s exact-k form: keep a row iff the
    * uniform fraction derived from mix64(id) falls under `rate` (a
    * per-row Column — constant, or a per-domain CASE for mixture
    * reweighting). No RNG anywhere: the decision is a pure function of
    * the row id, so it is reproducible across runs, stable under task
    * retries, consistent across engines (the q141 oracle replays it),
    * and SUBSET-MONOTONE — raising a rate only ever adds rows, never
    * swaps them (the property distributed downsampling jobs rely on
    * when rates are tuned between runs). Map-side only, no shuffle.
    *
    * The fraction is u/2^64 computed by the sketch discipline's IEEE
    * sequence (signed hash → double → +2^64 when negative, one divide)
    * so the comparison replays bit-for-bit in SQL. */
  def hashSample(corpus: DataFrame, idCol: String, rate: Column): DataFrame = {
    val h = Sketches.hashInput(corpus, idCol)
    val u = when(h >= 0, h.cast("double"))
      .otherwise(h.cast("double") + lit(graft.operators.Sketches.TwoPow64))
    corpus.filter(col(idCol).isNotNull &&
      u / lit(graft.operators.Sketches.TwoPow64) < rate)
  }

  /** Token-window document chunking — the SPLITTING sibling of context
    * packing (TextQueries q86 packs short docs INTO a window; this
    * splits long docs ACROSS windows): every document becomes
    * ceil-strided overlapping chunks of `chunkTokens` lexer tokens,
    * consecutive chunks sharing `overlapTokens` (the standard
    * continuity trade for training-context construction). Token basis
    * is the oracled BPE-ish lexer ([[graft.functions.TextFunctions
    * .lexTokens]] — `regexp_extract_all` in DuckDB), so the whole
    * operator replays in SQL and q139 gates chunk counts, per-chunk
    * token counts AND boundary tokens.
    *
    * Pure Column end-to-end (regexp lexer, integer chunk arithmetic,
    * `sequence`/`slice`/`element_at` higher-order functions — no udf in
    * an operator that touches every document of a corpus); chunk count
    * per doc is 1 for n ≤ chunkTokens else
    * `(n − chunkTokens + stride − 1) div stride + 1` (integer — exact
    * in any engine). Token-less documents produce ZERO chunks. Narrow
    * except the explode (no shuffle at all — chunking is map-side;
    * downstream grouping pays the only exchange).
    *
    * Emits (idCol, chunk_idx, chunk_tokens, first_token, last_token). */
  def chunkByTokens(corpus: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 128, overlapTokens: Int = 32): DataFrame =
    chunkTokenArray(corpus, idCol,
      graft.functions.TextFunctions.lexTokens(col(textCol)),
      chunkTokens, overlapTokens)

  /** The RAG-facing sibling of [[chunkByTokens]]: materializes the chunk
    * TEXT (tokens re-joined by single spaces) instead of stats, keyed by
    * `id·2^20 + chunk_idx` so a chunk key round-trips to (doc, chunk).
    * Same chunking arithmetic (lexer tokens, `chunkTokens` window,
    * `overlapTokens` overlap); docs with no tokens yield no chunks.
    * Per-doc narrow pass — no shuffle.
    *
    * Key-space contract (round-14 judge finding: the old `id·1000 + ci`
    * silently ALIASED keys for any doc over 1000 chunks — ~96k lexer
    * tokens at the 128/32 defaults, i.e. a book-length web document —
    * corrupting retrieval with no error): the stride is 2^20 chunks
    * (≈100M tokens/doc at defaults, beyond any real document) and BOTH
    * bounds fail loudly per row via `raise_error` — `chunk_idx < 2^20`
    * and `0 ≤ id < 2^43` (so `id·2^20 + ci` cannot overflow a long).
    * Codegen'd branches, no measurable cost. */
  /** The chunk-key stride (`chunk_key = id·ChunkKeyStride + chunk_idx`)
    * — ONE definition shared by [[chunkTexts]] and every consumer that
    * decodes a chunk's parent (`Fusion.assembleContext`'s default, the
    * q246/q250 doc-dedup): a consumer hard-coding its own stride would
    * silently mis-parent every chunk the day this changes. */
  val ChunkKeyStride: Long = 1L << 20

  def chunkTexts(corpus: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 128, overlapTokens: Int = 32): DataFrame = {
    require(overlapTokens >= 0 && overlapTokens < chunkTokens)
    val stride = chunkTokens - overlapTokens
    val KeyStride = ChunkKeyStride
    val MaxId = 1L << 43
    corpus
      .select(col(idCol).cast("long").as("id"),
        graft.functions.TextFunctions.lexTokens(col(textCol)).as("_t"))
      .withColumn("_n", size(col("_t")))
      .filter(col("_n") > 0)
      .withColumn("_nc", when(col("_n") <= chunkTokens, lit(1))
        .otherwise(expr(s"CAST((_n - $chunkTokens + ${stride - 1}) DIV $stride AS INT) + 1")))
      .select(col("id"), col("_t"), col("_n"),
        explode(sequence(lit(0), col("_nc") - 1)).as("ci"))
      .select(
        when(col("ci") >= KeyStride, raise_error(concat(
            lit(s"chunkTexts: doc "), col("id"),
            lit(s" exceeds $KeyStride chunks — chunk_key would alias"))))
          .when(col("id") < 0 || col("id") >= MaxId, raise_error(concat(
            lit(s"chunkTexts: id "), col("id"),
            lit(s" outside [0, $MaxId) — chunk_key would overflow"))))
          .otherwise(col("id") * KeyStride + col("ci")).as("chunk_key"),
        col("id"), col("ci").cast("long").as("chunk_idx"),
        array_join(slice(col("_t"), col("ci") * stride + 1,
          least(lit(chunkTokens), col("_n") - col("ci") * stride)), " ")
          .as("chunk_text"))
  }

  /** [[chunkByTokens]] over an arbitrary token-array column (the BPE
    * re-basing, q144: a context-window packer budgets in tokenizer
    * tokens, not lexer tokens — pass `Bpe.encodeCol(...)` here). */
  def chunkTokenArray(corpus: DataFrame, idCol: String, toks: Column,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens), got $overlapTokens")
    // the withHilbert2 hygiene: an idCol named like an internal (or the
    // output) column would alias mid-pipeline and fail far from the cause
    val reserved = Set("_t", "_n", "_nc", "_c",
      "chunk_idx", "chunk_tokens", "first_token", "last_token")
    require(!reserved.contains(idCol),
      s"chunkTokenArray reserves column name '$idCol' — rename the id column first")
    val stride = chunkTokens - overlapTokens
    corpus
      .select(col(idCol), toks.as("_t"))
      .withColumn("_n", size(col("_t")))
      .filter(col("_n") > 0)
      .withColumn("_nc", when(col("_n") <= chunkTokens, lit(1))
        .otherwise(
          expr(s"CAST((_n - $chunkTokens + ${stride - 1}) DIV $stride AS INT) + 1"))
      )
      .select(col(idCol), col("_t"),
        explode(sequence(lit(0), col("_nc") - 1)).as("chunk_idx"))
      .withColumn("_c",
        slice(col("_t"), col("chunk_idx") * lit(stride) + 1, lit(chunkTokens)))
      .select(col(idCol), col("chunk_idx"),
        size(col("_c")).as("chunk_tokens"),
        element_at(col("_c"), 1).as("first_token"),
        element_at(col("_c"), -1).as("last_token"))
  }

  /** Sequence packing: concatenate documents in id order and cut at
    * `budgetTokens` boundaries — the standard LLM-training batch
    * construction (documents straddle sequence boundaries; nothing is
    * padded or dropped, so utilization is 100% by construction and the
    * interesting outputs are where each document LANDS). Packing is
    * inherently sequential, so the corpus packs independently within
    * `shards` hash shards — at 100 TB each shard's running sum is one
    * window over its own partition, never a global single-task sort
    * (the same sharding any real pre-tokenized dataset writer uses).
    *
    * Returns per document: shard (= id % shards), n_tokens, start_off
    * (offset of the document's first token in the shard's concatenated
    * stream) and seq_id (the budget-sized sequence that first token
    * lands in, = start_off DIV budget). Deterministic: ordering is by
    * the unique id.
    *
    * `shards` IS the scale contract: each shard's cumulative offset is
    * ONE window task holding that shard's slim (id, n_tokens) rows —
    * ~16 bytes/doc — so per-task state is corpus_docs/shards rows. Size
    * shards ∝ corpus (docs/shards ≲ 10M keeps a task under ~200 MB); a
    * FIXED shard count at a growing corpus funnels every row through
    * the same few tasks. The knob costs nothing downstream — shards
    * are independent output files, exactly how pre-tokenized dataset
    * writers parallelize. */
  /** @param orderCols extra columns ordering docs WITHIN each shard
    *        BEFORE the id tiebreak — the curriculum knob (e.g. a
    *        quality tier packs cleanest-first); empty = plain id order,
    *        byte-identical to the original contract. */
  def packSequences(corpus: DataFrame, idCol: String, toks: Column,
      budgetTokens: Int, shards: Int,
      orderCols: Seq[String] = Seq()): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val reserved = Set("shard", "n_tokens", "start_off", "seq_id", "_t")
    require(!reserved.contains(idCol),
      s"packSequences reserves column name '$idCol' — rename the id column first")
    require(orderCols.forall(!reserved.contains(_)),
      s"packSequences reserves $reserved — rename the order columns first")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy((orderCols :+ idCol).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    corpus.select(col(idCol) +: toks.as("_t") +: orderCols.map(col): _*)
      .select(col(idCol) +: (col(idCol) % shards).as("shard") +:
        size(col("_t")).cast("long").as("n_tokens") +: orderCols.map(col): _*)
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"start_off DIV $budgetTokens"))
  }

  /** DOC-BOUNDARY-AWARE sequence packing — best-fit-decreasing bin
    * packing within each shard, the operator [[packSequences]]'s own
    * audit (q234: 24% of docs straddle a sequence boundary under
    * concat-and-cut) motivates: a doc whose attention span is split
    * across training sequences loses its cross-boundary context, so
    * production packers trade a little padding for zero splits
    * (best-fit-decreasing's waste is ≤ 11/9·OPT + 1 bins — Johnson's
    * classic FFD bound applies to BFD too).
    *
    * Per shard (= id % shards): docs sort (n_tokens DESC, id ASC) —
    * deterministic regardless of arrival order — then
    *   - docs LONGER than the budget cannot fit any sequence: each
    *     takes `ceil(n/B)` dedicated sequences, first (in sort order),
    *     and is the only kind of doc that still crosses a boundary
    *     (`crossing` = 1, provably minimal — no packer can avoid it);
    *   - every other doc goes to the open bin with the SMALLEST
    *     remaining capacity that fits it (ties → lowest bin id), or
    *     opens a new bin. Packed docs NEVER cross (seq_off + n ≤ B by
    *     construction).
    *
    * Scale shape: one shuffle (the groupByKey on shard); each shard's
    * group is the same slim (id, n_tokens) rowset the [[packSequences]]
    * window already holds in one task — `shards` stays the parallelism
    * knob (docs/shards ≲ 10M per task). The in-task cost is
    * O(docs log bins): the open-bin index is an ordered map keyed on
    * remaining capacity (best fit = ceilingEntry), so a 10M-doc shard
    * is ~10M·~20 ordered-map ops, not the 10^13 long-compares the
    * pre-r16 linear scan cost. Genuinely sequential imperative logic,
    * so this is the documented mapGroups exception to the no-UDF rule
    * (bin packing has no window/HOF form — the running state is a
    * mutable bin index, not a prefix sum).
    *
    * Zero-token docs contribute nothing to a batch and are dropped
    * (the [[chunkTexts]] discipline).
    *
    * @return (shard, doc_id, n_tokens, seq_id, seq_off, seq_end,
    *         crossing): seq_id/seq_off locate the doc's first token,
    *         seq_end is the last sequence it touches (= seq_id unless
    *         oversized), crossing = 1 iff seq_end > seq_id. */
  def packSequencesBestFit(corpus: DataFrame, idCol: String, toks: Column,
      budgetTokens: Int, shards: Int): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    packAssignedBestFit(
      corpus
        .select(col(idCol).cast("long").as("id"),
          size(toks).cast("long").as("n"))
        .filter(col("n") > 0)
        .select(col("id"), (col("id") % shards).as("shard"), col("n")),
      budgetTokens)
  }

  /** The packing core shared by [[packSequencesBestFit]] (id % shards)
    * and [[packSequencesBestFitBalanced]] (token-mass binning):
    * `assigned` is the slim (id, shard, n) frame, one shuffle on shard,
    * [[bfdPackShard]] per group. */
  private def packAssignedBestFit(assigned: DataFrame,
      budgetTokens: Int): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val B = budgetTokens.toLong
    assigned
      .select(col("id"), col("shard"), col("n"))
      .as[(Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
        bfdPackShard(shard, it.map { case (id, _, n) => (id, n) }.toArray, B)
      }
      .toDF("shard", "doc_id", "n_tokens", "seq_id", "seq_off", "seq_end",
        "crossing")
  }

  /** TOKEN-MASS-BALANCED shard assignment (r15 missing #6): `id %
    * shards` puts unbounded token mass on one task under id-correlated
    * length skew (every 8th doc being 8× longer lands ALL the excess on
    * shard 0). This assigns by RUNNING MASS instead — shard(d) =
    * ⌊prefix_mass(d) · shards / total_mass⌋ with the exclusive prefix
    * taken in id order — so every shard's mass is ≤ total/shards +
    * max_doc by construction (each shard is a contiguous mass slice;
    * only the doc straddling its boundary can overshoot).
    *
    * Scale shape — the prefix sum is DISTRIBUTED, not a global-order
    * window (which would be one task): ids split into `buckets`
    * id-RANGE buckets; within-bucket exclusive prefixes run as a
    * window PARTITIONED by bucket (parallel), and the cross-bucket
    * offsets are one ordered fold over ≤`buckets` rows (a single-task
    * window over a frame that never grows with data). The result
    * depends only on the global id order — bucketing is pure
    * parallelism, invisible in the output (the oracle replays the
    * single-window form). Overflow: prefix·shards ≤ total·shards must
    * stay under 2^63 — at 10^14 tokens (100 TB) that allows ~10^4
    * shards, `require`d.
    *
    * @return (id, shard, n) over the n>0 docs */
  def balancedShards(corpus: DataFrame, idCol: String, toks: Column,
      shards: Int, buckets: Int = 256): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val slim = corpus
      .select(col(idCol).cast("long").as("id"),
        size(toks).cast("long").as("n"))
      .filter(col("n") > 0)
    val bounds = slim.agg(min(col("id")).as("_lo"), max(col("id")).as("_hi"),
      sum(col("n")).as("_T"))
    val bucketed = slim.crossJoin(broadcast(bounds))
      .withColumn("_bkt", expr(s"(id - _lo) DIV ((_hi - _lo) DIV $buckets + 1)"))
    val offs = bucketed.groupBy(col("_bkt")).agg(sum(col("n")).as("_bn"))
      .withColumn("_off", coalesce(
        sum(col("_bn")).over(Window.orderBy(col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_bkt"), col("_off"))
    val w = Window.partitionBy(col("_bkt")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("_wp", coalesce(sum(col("n")).over(w), lit(0L)))
      .join(broadcast(offs), Seq("_bkt"))
      .select(col("id"),
        // the overflow guard lives INSIDE the consumed expression — a
        // separate guard column would be pruned and never fire
        when(col("_T") <= lit(Long.MaxValue / shards),
          expr(s"CAST(((_off + _wp) * $shards) DIV _T AS BIGINT)"))
          .otherwise(raise_error(lit("balancedShards: total token mass x " +
            s"$shards shards overflows 64-bit prefix arithmetic — reduce" +
            " shards"))).as("shard"),
        col("n"))
  }

  /** [[packSequencesBestFit]] under [[balancedShards]] — bounded
    * per-task token mass (hence bounded per-task packing work and
    * output quality skew) regardless of id-correlated length skew;
    * same output contract, gated q258. */
  def packSequencesBestFitBalanced(corpus: DataFrame, idCol: String,
      toks: Column, budgetTokens: Int, shards: Int,
      buckets: Int = 256): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    packAssignedBestFit(
      balancedShards(corpus, idCol, toks, shards, buckets), budgetTokens)
  }

  /** One shard's best-fit-decreasing pass (the [[packSequencesBestFit]]
    * mapGroups body, extracted so the complexity spec can drive it at
    * 10^6 docs without Spark overhead). The bin search is an ordered
    * map keyed on remaining capacity (r15 verdict: the previous linear
    * scan of every open bin was O(docs·bins) per shard task — ~10^10
    * compares at 100k docs/shard — because BFD never closes bins): best
    * fit = ceilingEntry(n) = the SMALLEST remaining capacity that fits,
    * and within one capacity bucket the lowest bin id — exactly the old
    * scan's tie rule, so placements (and the q239/q252 hashes) are
    * unchanged while per-doc cost drops to O(log bins). Bins at
    * remaining 0 are retired from the index (no doc has n < 1). */
  private[graft] def bfdPackShard(shard: Long, docsIn: Array[(Long, Long)],
      B: Long): Iterator[(Long, Long, Long, Long, Long, Long, Long)] = {
    val docs = docsIn.sortBy { case (id, n) => (-n, id) }
    val out = Array.newBuilder[(Long, Long, Long, Long, Long, Long, Long)]
    var seqCursor = 0L
    // oversized docs: dedicated sequences, in sort order
    docs.iterator.filter(_._2 > B).foreach { case (id, n) =>
      val span = (n + B - 1) / B
      out += ((shard, id, n, seqCursor, 0L, seqCursor + span - 1, 1L))
      seqCursor += span
    }
    // best-fit-decreasing over the rest
    val rems = scala.collection.mutable.ArrayBuffer.empty[Long]
    val byRem = new java.util.TreeMap[java.lang.Long, java.util.TreeSet[Integer]]()
    docs.iterator.filter(_._2 <= B).foreach { case (id, n) =>
      val e = byRem.ceilingEntry(Long.box(n))
      if (e == null) {
        rems += (B - n)
        val idx = rems.length - 1
        if (B - n > 0)
          byRem.computeIfAbsent(Long.box(B - n),
            _ => new java.util.TreeSet[Integer]()).add(idx)
        val s = seqCursor + idx
        out += ((shard, id, n, s, 0L, s, 0L))
      } else {
        val best = e.getValue.first().intValue()
        e.getValue.remove(Int.box(best))
        if (e.getValue.isEmpty) byRem.remove(e.getKey)
        val s = seqCursor + best
        out += ((shard, id, n, s, B - rems(best), s, 0L))
        rems(best) -= n
        if (rems(best) > 0)
          byRem.computeIfAbsent(Long.box(rems(best)),
            _ => new java.util.TreeSet[Integer]()).add(best)
      }
    }
    out.result().iterator
  }

  /** The window-form reference implementation of [[sampleKPerStratum]]
    * (one shuffle, full per-stratum sort). Kept for the equivalence spec
    * — the two forms must pick identical rows with identical ranks. */
  def sampleKPerStratumWindowed(corpus: DataFrame, stratumCol: String,
      idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(sampleOrder(col(idCol).cast("long")), col(idCol))
    corpus.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Corpus-level n-gram diversity (distinct-n): for n = 1..maxN, the
    * ratio of distinct to total word n-grams — the standard repetition /
    * mode-collapse report for a training corpus (low distinct-2 ⇒
    * boilerplate-heavy data). One explode + one aggregate per n; the
    * distinct count shuffles n-gram strings once per n. */
  def ngramDiversity(corpus: DataFrame, textCol: String,
      maxN: Int = 3): DataFrame = {
    (1 to maxN).map { n =>
      corpus.select(explode(
          TextFunctions.allShinglesCol(col(textCol), n)).as("gram"))
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("gram")).as("distinct_ngrams"))
        .withColumn("n", lit(n))
    }.reduce(_ unionByName _)
      .select(col("n"), col("total_ngrams"), col("distinct_ngrams"),
        round(col("distinct_ngrams").cast("double") / col("total_ngrams"), 6)
          .as("diversity"))
      .orderBy(col("n"))
  }

  /** Per-document mean unigram surprisal — the KenLM-free version of
    * perplexity-based quality filtering: score(doc) = −Σ ln p(tok) / n,
    * with p() the corpus's own unigram distribution. High = rare-token
    * soup, low = repetitive filler; both tails get filtered in a real
    * pipeline.
    *
    * Numeric discipline (cross-engine exactness): the only float op per
    * TERM is ln of an exact ratio, immediately fixed to integer
    * micro-nats — per-document totals are then EXACT integer sums
    * (order-independent, unlike summing raw doubles, which is
    * non-associative and differs between engines' aggregation orders);
    * the mean divides two exact integers once at the end.
    * Scale: vocabulary is tiny relative to any corpus → surprisal table
    * broadcasts; the doc side is one explode + one combiner-friendly
    * groupBy. */
  def unigramSurprisal(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    unigramSurprisalTokens(corpus, idCol,
      TextFunctions.tokens(lower(col(textCol))))

  /** [[unigramSurprisal]] over an arbitrary token-array column (the BPE
    * re-basing, q149 — surprisal against the distribution of the tokens
    * a training pipeline actually counts). */
  def unigramSurprisalTokens(corpus: DataFrame, idCol: String,
      toks0: Column): DataFrame = {
    val toks = corpus.select(col(idCol).as("id"),
        explode(toks0).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("_n"))
    val surp = counts.crossJoin(broadcast(totals))
      .select(col("tok"),
        round(-log(col("c").cast("double") / col("_n")) * 1e6, 0)
          .cast("long").as("s"))
    toks.join(broadcast(surp), Seq("tok"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("s_total"))
      .select(col("id"), col("n_tokens"),
        round(col("s_total").cast("double") / col("n_tokens") / 1e6, 4)
          .as("mean_surprisal"))
  }

  /** Add-one-smoothed BIGRAM surprisal over an arbitrary token-array
    * column — the KenLM-shaped upgrade of [[unigramSurprisalTokens]]
    * (a unigram LM can't see word-order scrambles; a bigram LM scores
    * them as improbable). Per doc: bigrams (t_i, t_{i+1}) within the
    * doc, P(v|u) = (C(u,v)+1) / (C(u)+V) with C(u) the left-context
    * count and V the distinct-token vocabulary, surprisal −ln P in
    * INTEGER micro-nats (q94's cross-engine discipline), mean per doc.
    * The outlier verdict (doc mean > 1.25 × corpus mean) is decided by
    * EXACT integer cross-multiplication — 4·s_total·G_n > 5·G_t·n_b —
    * so no float comparison can drift between engines.
    *
    * Scale shape: one window (lead) partitioned by doc id, bigram
    * counts via map-side-combining groupBys, the score join
    * co-partitioned on the (u,v) pair key (the pair table is corpus
    * vocabulary², far too big to broadcast — only the 1-row totals
    * broadcast). Docs with < 2 tokens carry no bigrams and are absent
    * from the output (nothing to score).
    *
    * @return (id, n_bigrams, mean_surprisal, is_outlier) */
  def bigramSurprisalTokens(corpus: DataFrame, idCol: String,
      toks0: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = OperatorCaches.track(corpus.select(col(idCol).as("id"),
        posexplode(toks0).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0).persist())
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val dbc = OperatorCaches.track(
      toks.withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("id"), col("tok"), col("nxt"))
        .agg(count(lit(1)).as("m")).persist())
    val bc = dbc.groupBy(col("tok"), col("nxt")).agg(sum(col("m")).as("c"))
    val ctx = bc.groupBy(col("tok")).agg(sum(col("c")).as("cu"))
    val vocabSize = toks.agg(countDistinct(col("tok")).as("_v"))
    val probs = OperatorCaches.track(bc.join(ctx, Seq("tok"))
      .crossJoin(broadcast(vocabSize))
      .select(col("tok"), col("nxt"), col("c"),
        round(-log((col("c") + lit(1)).cast("double")
          / (col("cu") + col("_v")).cast("double")) * 1e6, 0)
          .cast("long").as("s"))
      .persist())
    val totals = probs.agg(sum(col("s") * col("c")).as("_gt"),
      sum(col("c")).as("_gn"))
    dbc.join(probs.select(col("tok"), col("nxt"), col("s")),
        Seq("tok", "nxt"))
      .groupBy(col("id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("s")).as("s_total"))
      .crossJoin(broadcast(totals))
      .select(col("id"), col("n_bigrams"),
        round(col("s_total").cast("double") / col("n_bigrams") / 1e6, 4)
          .as("mean_surprisal"),
        when(col("s_total") * col("_gn") * 4 >
          col("_gt") * col("n_bigrams") * 5, 1L).otherwise(0L)
          .as("is_outlier"))
  }

  /** TRIGRAM surprisal with STUPID BACKOFF (Brants et al. 2007) — the
    * KenLM-class upgrade of [[bigramSurprisalTokens]], and the first
    * of the family where backoff is REAL: counts are fit on the
    * `trainPred` split and scoring runs on the held-out rest, so test
    * trigrams unseen in training actually fall through the ladder
    * (score the corpus against itself and every trigram is seen — the
    * backoff arms would be dead code).
    *
    * Ladder, with α = 2/5 kept as an EXACT rational so every level is
    * −ln of an integer ratio (one double division + one ln per
    * distinct trigram type, the q94/q180 micro-nat discipline):
    *   C₃(u,v,w) > 0:  P = C₃/C₂(u,v)            (num=C₃,    den=C₂)
    *   C₂(v,w) > 0:    P = α·C₂(v,w)/C₁(v)       (num=2·C₂,  den=5·C₁)
    *   C₁(w) > 0:      P = α²·C₁(w)/N            (num=4·C₁,  den=25·N)
    *   OOV:            P = α³·1/N                (num=8,     den=125·N)
    * Surprisal is fixed to integer micro-nats per TYPE before any
    * per-doc summing (order-independent integer aggregation); the
    * outlier verdict (doc mean > 1.25 × test-set mean) is the exact
    * integer cross-multiplication 4·s_total·G_n > 5·G_t·n_tri.
    *
    * Scale shape: count tables are map-side-combining groupBys; the
    * type→score joins are co-partitioned equi-joins on the (u,v[,w])
    * keys (vocabulary-cubed tables never broadcast — only the 1-row N
    * and G totals do); docs with < 3 test tokens carry no trigrams and
    * are absent from the output.
    *
    * @return (id, n_trigrams, mean_surprisal, is_outlier) for test docs */
  def trigramBackoffTokens(corpus: DataFrame, idCol: String,
      toks0: Column, trainPred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = OperatorCaches.track(corpus.select(col(idCol).as("id"),
        trainPred.as("is_train"), posexplode(toks0).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0).persist())
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val tri = OperatorCaches.track(toks
      .withColumn("v", lead(col("tok"), 1).over(w))
      .withColumn("w3", lead(col("tok"), 2).over(w)).persist())
    val c3 = tri.filter(col("is_train") && col("w3").isNotNull)
      .groupBy(col("tok"), col("v"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val c2 = OperatorCaches.track(
      tri.filter(col("is_train") && col("v").isNotNull)
        .groupBy(col("tok"), col("v"))
        .agg(count(lit(1)).as("c2")).persist())
    val c1 = OperatorCaches.track(toks.filter(col("is_train"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1")).persist())
    val nTot = c1.agg(sum(col("c1")).as("_n"))
    val testTri = OperatorCaches.track(
      tri.filter(!col("is_train") && col("w3").isNotNull)
        .groupBy(col("id"), col("tok"), col("v"), col("w3"))
        .agg(count(lit(1)).as("m")).persist())
    val types = testTri.groupBy(col("tok"), col("v"), col("w3"))
      .agg(sum(col("m")).as("mt"))
      .join(c3, Seq("tok", "v", "w3"), "left")
      .join(c2, Seq("tok", "v"), "left")
      .join(c2.select(col("tok").as("v"), col("v").as("w3"),
        col("c2").as("c2b")), Seq("v", "w3"), "left")
      .join(c1.select(col("tok").as("v"), col("c1").as("c1v")), Seq("v"), "left")
      .join(c1.select(col("tok").as("w3"), col("c1").as("c1w")), Seq("w3"), "left")
      .crossJoin(broadcast(nTot))
    val num = when(col("c3").isNotNull, col("c3"))
      .when(col("c2b").isNotNull, col("c2b") * 2)
      .when(col("c1w").isNotNull, col("c1w") * 4)
      .otherwise(lit(8L))
    val den = when(col("c3").isNotNull, col("c2"))
      .when(col("c2b").isNotNull, col("c1v") * 5)
      .when(col("c1w").isNotNull, col("_n") * 25)
      .otherwise(col("_n") * 125)
    val scored = OperatorCaches.track(types.select(col("tok"), col("v"),
        col("w3"), col("mt"),
        round(-log(num.cast("double") / den.cast("double")) * 1e6, 0)
          .cast("long").as("s")).persist())
    val totals = scored.agg(sum(col("s") * col("mt")).as("_gt"),
      sum(col("mt")).as("_gn"))
    testTri.join(scored.select(col("tok"), col("v"), col("w3"), col("s")),
        Seq("tok", "v", "w3"))
      .groupBy(col("id"))
      .agg(sum(col("m")).as("n_trigrams"),
        sum(col("m") * col("s")).as("s_total"))
      .crossJoin(broadcast(totals))
      .select(col("id"), col("n_trigrams"),
        round(col("s_total").cast("double") / col("n_trigrams") / 1e6, 4)
          .as("mean_surprisal"),
        when(col("s_total") * col("_gn") * 4 >
          col("_gt") * col("n_trigrams") * 5, 1L).otherwise(0L)
          .as("is_outlier"))
  }

  /** Interpolated KNESER–NEY bigram surprisal (Kneser & Ney 1995;
    * Chen & Goodman 1999's interpolated form) — the production-grade
    * smoothed LM the perplexity filters of real pipelines run (KenLM's
    * default), completing the LM ladder above add-one
    * ([[bigramSurprisalTokens]]) and stupid backoff
    * ([[trigramBackoffTokens]]). The absolute discount D = 3/4 is kept
    * as an EXACT rational, so with Pcont(v) = Ncont(v)/T (distinct
    * left-contexts of v over bigram TYPES T) the whole estimate is one
    * integer ratio per scored bigram type:
    *
    *   u seen as context, and (u,v) seen or v seen as continuation:
    *     P = (max(c(u,v) − D, 0) + D·N1+(u·)·Pcont(v)) / c(u·)
    *       = [max(4c − 3, 0)·T + 3·N1+(u·)·Ncont(v)] / (4·c(u·)·T)
    *   u unseen as context, v seen as continuation:
    *     P = Pcont(v)                      (num = Ncont(v), den = T)
    *   v unseen as continuation (incl. OOV):
    *     P = 1/(4T)                        (the documented OOV floor)
    *
    * Surprisal per TYPE is round(−ln(num/den)·1e6) — one double
    * division + one ln per distinct test bigram type, everything else
    * integer (the q180/q188 micro-nat discipline); the outlier verdict
    * is the exact cross-multiplication 4·s_total·G_n > 5·G_t·n_b.
    * Counts fit on the `trainPred` split, scoring on the held-out
    * rest, so every arm demonstrably fires.
    *
    * Scale shape: c2 / context / continuation tables are map-side-
    * combining groupBys; the type→score joins are co-partitioned
    * equi-joins on (u[,v]); only the 1-row T and G totals broadcast.
    * Integer bounds: num ≤ 4·c·T + 3·N1+·Ncont and den = 4·c(u·)·T —
    * inside int64 up to T·c(u·) ~ 2.3e18 (petabyte-scale corpora push
    * the den product through ln(num) − ln(den) instead; the seam is
    * this one expression). Docs with < 2 test tokens carry no bigrams
    * and are absent from the output.
    *
    * @return (id, n_bigrams, mean_surprisal, is_outlier) for test docs */
  def kneserNeyTokens(corpus: DataFrame, idCol: String,
      toks0: Column, trainPred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = OperatorCaches.track(corpus.select(col(idCol).as("id"),
        trainPred.as("is_train"), posexplode(toks0).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0).persist())
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val bg = OperatorCaches.track(toks
      .withColumn("v", lead(col("tok"), 1).over(w))
      .filter(col("v").isNotNull).persist())
    val c2 = OperatorCaches.track(bg.filter(col("is_train"))
      .groupBy(col("tok"), col("v"))
      .agg(count(lit(1)).as("c")).persist())
    val ctx = c2.groupBy(col("tok"))
      .agg(sum(col("c")).as("cu"), count(lit(1)).as("n1f"))
    val ncont = c2.groupBy(col("v")).agg(count(lit(1)).as("ncont"))
    val ntypes = c2.agg(count(lit(1)).as("_t"))
    val testBg = OperatorCaches.track(bg.filter(!col("is_train"))
      .groupBy(col("id"), col("tok"), col("v"))
      .agg(count(lit(1)).as("m")).persist())
    val types = testBg.groupBy(col("tok"), col("v")).agg(sum(col("m")).as("mt"))
      .join(c2, Seq("tok", "v"), "left")
      .join(ctx, Seq("tok"), "left")
      .join(ncont, Seq("v"), "left")
      .crossJoin(broadcast(ntypes))
    val arm1 = col("cu").isNotNull &&
      (col("c").isNotNull || col("ncont").isNotNull)
    val num = when(arm1,
        greatest(coalesce(col("c"), lit(0L)) * 4 - 3, lit(0L)) * col("_t") +
          col("n1f") * 3 * coalesce(col("ncont"), lit(0L)))
      .when(col("ncont").isNotNull, col("ncont"))
      .otherwise(lit(1L))
    val den = when(arm1, col("cu") * 4 * col("_t"))
      .when(col("ncont").isNotNull, col("_t"))
      .otherwise(col("_t") * 4)
    val scored = OperatorCaches.track(types.select(col("tok"), col("v"),
        col("mt"),
        round(-log(num.cast("double") / den.cast("double")) * 1e6, 0)
          .cast("long").as("s")).persist())
    val totals = scored.agg(sum(col("s") * col("mt")).as("_gt"),
      sum(col("mt")).as("_gn"))
    testBg.join(scored.select(col("tok"), col("v"), col("s")),
        Seq("tok", "v"))
      .groupBy(col("id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("s")).as("s_total"))
      .crossJoin(broadcast(totals))
      .select(col("id"), col("n_bigrams"),
        round(col("s_total").cast("double") / col("n_bigrams") / 1e6, 4)
          .as("mean_surprisal"),
        when(col("s_total") * col("_gn") * 4 >
          col("_gt") * col("n_bigrams") * 5, 1L).otherwise(0L)
          .as("is_outlier"))
  }

  /** CCNet-style perplexity TIERING (head / middle / tail): every doc
    * is assigned a quality tier by its mean unigram surprisal, with
    * the two tier boundaries taken as the exact terciles of the
    * hash-capped SAMPLE — the actual CCNet recipe (cutoffs from a
    * sample, assignment map-side), and the scalable one: no global
    * sort or rank at any corpus size, just one bounded sample collect
    * and a broadcast of two boundary tuples.
    *
    * Determinism: the sample is the mix64 bottom-`sampleDocs` docs
    * (the Bpe.fit discipline); boundaries are elements
    * sample[n/3] and sample[2n/3] of the sample sorted by
    * (mean_surprisal, id); assignment compares the FULL tuple, so a
    * doc equal to a boundary mean splits deterministically by id.
    * mean_surprisal is the q94-gated 4-dp rounded double — identical
    * in both engines, so tuple comparisons can never drift.
    *
    * @return (id, n_tokens, mean_surprisal, tier 1=head lowest
    *         surprisal | 2 | 3=tail) */
  def perplexityTiers(corpus: DataFrame, idCol: String, textCol: String,
      sampleDocs: Int = 256): DataFrame = {
    val surp = OperatorCaches.track(
      unigramSurprisal(corpus, idCol, textCol).persist())
    val mix = udf((id: Long) => TextFunctions.mix64(id))
    val sample = surp
      .withColumn("_h", mix(col("id").cast("long"))
        .bitwiseXOR(lit(Long.MinValue)))
      .orderBy(col("_h"))
      .limit(sampleDocs)
      .select(col("mean_surprisal"), col("id"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy(identity)
    require(sample.nonEmpty, "perplexityTiers: empty corpus")
    val b1 = sample(sample.length / 3)
    val b2 = sample(2 * sample.length / 3)
    def below(b: (Double, Long)): Column =
      col("mean_surprisal") < b._1 ||
        (col("mean_surprisal") === b._1 && col("id") < b._2)
    surp.select(col("id"), col("n_tokens"), col("mean_surprisal"),
      when(below(b1), 1L).when(below(b2), 2L).otherwise(3L).as("tier"))
  }

  /** DoReMi-SHAPED iterative domain reweighting (Xie et al. 2023,
    * deterministic distillation): domains whose text the MIXTURE
    * language model explains worse than their OWN language model
    * (positive excess loss) get upweighted by multiplicative weights,
    * iterated a fixed number of rounds — the data-mixing step above
    * [[mixtureWeights]]' flat special case. The proxy-model machinery
    * is distilled to its deterministic core: the "model" is the
    * unigram LM (the engine's gated surprisal basis), so every
    * quantity is an integer count, an integer product, or one
    * −ln(integer/integer) fixed to micro-nats.
    *
    * Per round t (weights w in MICRO units, start 1e6):
    *   s_t(tok)  = round(−ln(Σ_g w·c_g(tok) / Σ_g w·N_g)·1e6)  [mixture LM]
    *   S_t(g)    = Σ_tok c_g(tok)·s_t(tok)                     [integer]
    *   excess(g) = (S_t(g) − S_ref(g)) / N_g    [micro-nats, trunc toward 0]
    *   w'(g)     = w(g)·(1e6 + clamp(excess, ±9e5)) / 1e6      [trunc]
    * with S_ref(g) the domain's loss under its own unigram LM — the
    * linearized multiplicative-weights update, exact in integers (the
    * exp() form would not be bit-identical cross-engine).
    *
    * Scale shape: the per-(domain, token) count table is one
    * map-side-combining aggregate; each round is one distributed score
    * pass plus a |domains|-row collect (the LocalKMeans bounded-driver
    * discipline) whose 5 scalars re-enter the next round as literals.
    *
    * @return per domain: (domain, n_docs, n_tokens, ref_loss,
    *         mix_loss, weight_micro, weight_share) */
  def doremiWeights(corpus: DataFrame, idCol: String, textCol: String,
      domainCol: String, iters: Int = 3): DataFrame = {
    val toks = corpus.select(col(domainCol).as("g"), col(idCol).as("id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = OperatorCaches.track(
      toks.groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c")).persist())
    val ng = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val nd = corpus.groupBy(col(domainCol).as("g"))
      .agg(count(lit(1)).as("n_docs"))
    // reference: each domain under its OWN unigram LM
    val sRef = counts.join(ng, Seq("g"))
      .select(col("g"), col("tok"), col("c"),
        round(-log(col("c").cast("double") / col("n").cast("double")) * 1e6, 0)
          .cast("long").as("s"))
    val refRows = sRef.groupBy(col("g"))
      .agg(sum(col("c") * col("s")).as("sref"))
      .join(ng, Seq("g"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val domains = refRows.keys.toSeq.sorted
    var w: Map[String, Long] = domains.map(_ -> 1000000L).toMap
    var lastMix: Map[String, Long] = Map.empty
    var it = 0
    while (it < iters) {
      val wCol = domains.foldLeft(lit(0L)) { (acc, g) =>
        when(col("g") === g, lit(w(g))).otherwise(acc)
      }
      val d = domains.map(g => w(g) * refRows(g)._2).sum
      val sMix = counts.withColumn("wc", wCol * col("c"))
        .groupBy(col("tok")).agg(sum(col("wc")).as("numer"))
        .select(col("tok"),
          round(-log(col("numer").cast("double") / lit(d.toDouble)) * 1e6, 0)
            .cast("long").as("s"))
      lastMix = counts.join(sMix, Seq("tok"))
        .groupBy(col("g")).agg(sum(col("c") * col("s")).as("smix"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      w = domains.map { g =>
        val excess = (lastMix(g) - refRows(g)._1) / refRows(g)._2
        val clamped = math.max(-900000L, math.min(900000L, excess))
        g -> w(g) * (1000000L + clamped) / 1000000L
      }.toMap
      it += 1
    }
    val wTot = domains.map(w).sum
    val spark = corpus.sparkSession
    import spark.implicits._
    val out = domains.map { g =>
      val (sref, n) = refRows(g)
      (g, n,
        BigDecimal(sref.toDouble / n / 1e6)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(lastMix(g).toDouble / n / 1e6)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        w(g),
        BigDecimal(w(g).toDouble / wTot)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("g", "n_tokens", "ref_loss", "mix_loss", "weight_micro",
      "weight_share")
    out.join(nd, Seq("g"))
      .select(col("g").as(domainCol), col("n_docs"), col("n_tokens"),
        col("ref_loss"), col("mix_loss"), col("weight_micro"),
        col("weight_share"))
  }

  /** Domain-mixture reweighting toward a UNIFORM token budget per domain:
    * weight(g) = (total_tokens / n_domains) / tokens(g) — the sampling
    * multiplier that equalizes each domain's token contribution (the
    * flat-mixture special case of DoReMi-style domain reweighting).
    * One row per domain: (group, n_docs, n_tokens, token_share, weight).
    * Totals ride along as in-plan broadcast scalars — no driver count. */
  def mixtureWeights(corpus: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val stats = corpus.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokens(col(textCol))).cast("long"))
          .as("n_tokens"))
    val totals = stats.agg(count(lit(1)).as("_k"), sum(col("n_tokens")).as("_tot"))
    stats.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("_tot"), 6).as("token_share"),
        round(col("_tot").cast("double") / col("_k") / col("n_tokens"), 6)
          .as("weight"))
  }

  /** CORPUS-WIDE LINE-LEVEL DEDUP (the RefinedWeb/CCNet boilerplate
    * filter): any line whose occurrence count across the WHOLE corpus
    * reaches `minOcc` is boilerplate (nav bars, cookie banners,
    * "subscribe" calls) and every occurrence is dropped; documents are
    * reassembled from their surviving lines in original order. This is
    * the line-granularity member of the dedup family — coarser than
    * substring dedup (q172+), finer than document dedup (q30) — and
    * the one production web pipelines run FIRST because boilerplate
    * dominates crawl bytes.
    *
    * Scale shape: one explode + one map-side-combining line count +
    * one join back on the line key, then a per-doc aggregation —
    * reassembly sorts each doc's own lines inside its aggregation
    * buffer (array_sort over collect_list), never a global sort. At
    * 100 TB the join key becomes a 128-bit line hash (8–16 bytes
    * instead of the line text) with the same plan shape; the string
    * key here keeps the oracle replay byte-exact.
    *
    * @return (id, n_lines, n_dropped, clean_len, content_sha) */
  def lineDedup(corpus: DataFrame, idCol: String, textCol: String,
      minOcc: Int = 3): DataFrame = {
    require(minOcc >= 2, s"minOcc must be >= 2, got $minOcc")
    val lines = OperatorCaches.track(corpus
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("_lh", xxhash64(col("line")))
      .persist())
    dropAndAssemble(lines, lineBoilerplate(lines, minOcc))
  }

  /** The corpus's boilerplate line set, keyed by the 8-BYTE LINE HASH
    * (_lh, _bad) for every line at `minOcc`+ occurrences — the
    * once-per-epoch index the incremental form joins (in production
    * saved bucketed on _lh). Counting and joining on xxhash64(line)
    * instead of the raw TEXT makes the boilerplate shuffle and the
    * index bandwidth-proportional to 8 bytes/line, not line length
    * (round-14 advisory); collision odds are the standard fingerprint
    * argument, ~|distinct lines|²/2⁶⁴ — negligible, and a collision
    * only over-drops a line, never corrupts reassembly (text stays on
    * the doc side only). */
  private def lineBoilerplate(lines: DataFrame, minOcc: Int): DataFrame =
    lines.groupBy(col("_lh"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minOcc)
      .select(col("_lh"), lit(true).as("_bad"))

  /** Shared tail of both line-dedup forms: mark lines against the
    * hash-keyed boilerplate set, reassemble survivors in original
    * order inside each doc's aggregation buffer. */
  private def dropAndAssemble(lines: DataFrame, bad: DataFrame): DataFrame =
    lines.join(bad, Seq("_lh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_bad"), 1L).otherwise(0L)).as("n_dropped"),
        collect_list(when(col("_bad").isNull,
          struct(col("pos"), col("line")))).as("_ls"))
      .select(col("id"), col("n_lines"), col("n_dropped"),
        array_join(expr("transform(array_sort(_ls), s -> s.line)"), "\n")
          .as("_clean"))
      .select(col("id"), col("n_lines"), col("n_dropped"),
        length(col("_clean")).cast("long").as("clean_len"),
        sha2(col("_clean"), 256).as("content_sha"))

  /** INCREMENTAL line dedup — [[lineDedup]]'s daily-ingest form: the
    * EPOCH corpus's boilerplate set is computed once (count ≥ minOcc
    * over epoch lines only — the saved index a daily batch joins with
    * zero epoch-side recompute); incoming docs drop exactly the lines
    * that index marks and reassemble. Incoming-only repetition does
    * NOT dedup here by design (it isn't boilerplate until the epoch
    * roll sees it — the q174/q190 epoch-index semantics at line
    * granularity).
    *
    * @return per incoming doc: (id, n_lines, n_dropped, clean_len,
    *         content_sha) */
  def lineDedupIncremental(epoch: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, minOcc: Int = 3): DataFrame = {
    require(minOcc >= 2, s"minOcc must be >= 2, got $minOcc")
    def explodeLines(df: DataFrame) = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("_lh", xxhash64(col("line")))
    val bad = lineBoilerplate(explodeLines(epoch), minOcc)
    dropAndAssemble(explodeLines(incoming), bad)
  }

  /** TEMPERATURE-SCALED mixture weights — w(g) ∝ n(g)^α, the standard
    * data-mixing recipe between [[mixtureWeights]]' uniform budget
    * (α = 0) and proportional sampling (α = 1): the LLaMA/UL2-style
    * upsampling of small domains without flattening the mixture.
    * α is an EXACT rational (alphaNum/alphaDen, default 7/10), applied
    * in log space on the micro-nat integer grid (the q180 discipline):
    *
    *   s(g)       = round(ln(n_tokens(g))·1e6)        [one ln/domain]
    *   t(g)       = (alphaNum·s(g)) DIV alphaDen      [integer]
    *   w_micro(g) = round(exp((t(g) − max_t)/1e6)·1e6)[one exp/domain]
    *   share(g)   = round(w_micro(g) / Σ w_micro, 6)  [integer ratio]
    *
    * The exp is anchored at the LARGEST domain (w_micro = 1e6 exactly
    * for it, everything else relative), so the two float calls per
    * domain are each rounded ONCE onto an integer grid before any
    * arithmetic that could compound drift.
    *
    * Scale shape: one map-side-combining groupBy over the corpus plus
    * a 1-row broadcast (max_t, Σ); the domain table is tiny by
    * definition — no driver collect anywhere. */
  def temperatureWeights(corpus: DataFrame, groupCol: String,
      textCol: String, alphaNum: Int = 7, alphaDen: Int = 10): DataFrame =
    temperatureWeightsFromStats(
      corpus.groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextFunctions.tokens(col(textCol))).cast("long"))
            .as("n_tokens")),
      groupCol, alphaNum, alphaDen)

  /** [[temperatureWeights]] over PRECOMPUTED per-group stats
    * (groupCol, n_docs, n_tokens) — the seam that lets a plan rebase
    * onto corrected counts (the q244 dedup-aware re-plan feeds
    * post-dedup token counts here instead of raw corpus counts). */
  def temperatureWeightsFromStats(stats: DataFrame, groupCol: String,
      alphaNum: Int = 7, alphaDen: Int = 10): DataFrame = {
    // integer DIV (not /, which widens to double in Spark SQL) — all
    // operands nonnegative, so DIV == DuckDB's flooring //
    val logw = stats.select(col(groupCol), col("n_docs"), col("n_tokens"),
      expr(s"(CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6, 0) AS BIGINT)" +
        s" * $alphaNum) DIV $alphaDen").as("logw_micro"))
    val mx = logw.agg(max(col("logw_micro")).as("_mx"))
    val wm = logw.crossJoin(broadcast(mx))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        col("logw_micro"),
        round(exp((col("logw_micro") - col("_mx")).cast("double") / 1e6) * 1e6,
          0).cast("long").as("weight_micro"))
    val tot = wm.agg(sum(col("weight_micro")).as("_tw"))
    wm.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        col("logw_micro"), col("weight_micro"),
        round(col("weight_micro").cast("double") / col("_tw"), 6)
          .as("weight_share"))
  }

  /** MIXTURE LANDING AUDIT — did the corpus land on the sampling
    * target? Per group, the ACTUAL token share next to the
    * [[temperatureWeights]] TARGET share, both as floored integer
    * micro-shares, and the signed excess: the monitor that tells a
    * pipeline owner which sources are over/under-represented relative
    * to the α-tempered mixture before the next epoch's plan corrects
    * it. All integer arithmetic (nonnegative DIV == floor in both
    * engines); group-count-sized frames only.
    *
    * @return (group, n_tokens, actual_micro, target_micro,
    *         excess_micro, verdict over/under/on) */
  def mixtureLandingAudit(corpus: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val w = temperatureWeights(corpus, groupCol, textCol)
    val tot = w.agg(sum(col("n_tokens")).as("_T"),
      sum(col("weight_micro")).as("_W"))
    w.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_tokens"),
        expr("CAST((1000000 * n_tokens) DIV _T AS BIGINT)").as("actual_micro"),
        expr("CAST((1000000 * weight_micro) DIV _W AS BIGINT)")
          .as("target_micro"))
      .withColumn("excess_micro", col("actual_micro") - col("target_micro"))
      .withColumn("verdict",
        when(col("excess_micro") > 0, "over")
          .when(col("excess_micro") < 0, "under").otherwise("on"))
  }

  /** EPOCH SAMPLING PLAN — the materialized step after
    * [[temperatureWeights]]: apportion an integer token budget across
    * domains by HAMILTON'S LARGEST-REMAINDER method, so the per-domain
    * quotas are exact integers that sum to the budget EXACTLY (floored
    * proportional shares under-allocate by < |domains| tokens; the
    * leftover goes +1 each to the largest fractional remainders —
    * (remainder DESC, domain ASC) as the deterministic total order).
    * All apportionment arithmetic is exact integers on weight_micro:
    *
    *   base(g)  = (budget·w(g)) DIV Σw          [floor]
    *   rem(g)   = budget·w(g) − base(g)·Σw      [exact remainder]
    *   bonus(g) = 1 iff rank_{(rem DESC, g ASC)}(g) ≤ budget − Σ base
    *
    * repeat_micro = the domain's effective epoch count under its quota
    * (quota/n_tokens, half-up-rounded once to micro units via
    * (2·q·1e6 + n) DIV 2n) — the upsampling factor trainers read off
    * the plan.
    *
    * Scale shape: everything after the [[temperatureWeights]] groupBy
    * lives on the |domains|-row table; the rank window is over that
    * bounded table (domains are tens, not millions — a plan with
    * millions of groups would switch to the q57 bounded-heap top-k for
    * the bonus set).
    *
    * @return (group, n_tokens, weight_micro, base_quota, bonus, quota,
    *         repeat_micro); Σ quota == budget exactly. */
  def samplingPlan(corpus: DataFrame, groupCol: String, textCol: String,
      budget: Long, alphaNum: Int = 7, alphaDen: Int = 10): DataFrame =
    planFromWeights(
      temperatureWeights(corpus, groupCol, textCol, alphaNum, alphaDen),
      groupCol, budget)

  /** [[samplingPlan]] over precomputed per-group stats — see
    * [[temperatureWeightsFromStats]]. */
  def samplingPlanFromStats(stats: DataFrame, groupCol: String,
      budget: Long, alphaNum: Int = 7, alphaDen: Int = 10): DataFrame =
    planFromWeights(
      temperatureWeightsFromStats(stats, groupCol, alphaNum, alphaDen),
      groupCol, budget)

  private def planFromWeights(weights: DataFrame, groupCol: String,
      budget: Long): DataFrame = {
    require(budget > 0)
    val w = weights
      .select(col(groupCol), col("n_tokens"), col("weight_micro"))
    val tot = w.agg(sum(col("weight_micro")).as("_tw"))
    val base = w.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_tokens"), col("weight_micro"),
        expr(s"($budget * weight_micro) DIV _tw").as("base_quota"),
        expr(s"$budget * weight_micro - (($budget * weight_micro) DIV _tw) * _tw")
          .as("rem"))
    val leftover = base.agg((lit(budget) - sum(col("base_quota"))).as("_l"))
    import org.apache.spark.sql.expressions.Window
    base.crossJoin(broadcast(leftover))
      .withColumn("_rk", row_number().over(
        Window.orderBy(col("rem").desc, col(groupCol).asc)))
      .select(col(groupCol), col("n_tokens"), col("weight_micro"),
        col("base_quota"),
        when(col("_rk") <= col("_l"), 1L).otherwise(0L).as("bonus"))
      .withColumn("quota", col("base_quota") + col("bonus"))
      .withColumn("repeat_micro",
        expr("(2 * quota * 1000000 + n_tokens) DIV (2 * n_tokens)"))
  }
}
