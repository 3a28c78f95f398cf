package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression guards: the perf properties the queries rely on
  * (pushdown, broadcast, expression fusion) must stay visible in the
  * physical plan — a silent regression here costs nothing at sf0.01 and
  * everything at 100 TB. */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString

  test("q02: shipdate filter is pushed to the parquet scan") {
    val p = plan("q02_filter_topk")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.replaceAll("\\s", "").contains("l_shipdate"), "filter column visible")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "expected shipdate pushdown in:\n" + p.take(2000))
  }

  test("q03: dimension join broadcasts (no shuffle of nation)") {
    val p = plan("q03_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(1000))
  }

  test("q01: aggregation is partial (map-side combine before the shuffle)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      p.take(1000))
    assert(p.contains("Exchange hashpartitioning"), p.take(1000))
  }

  test("scan reads only referenced columns (projection pruning)") {
    val df = Tables.load(spark, sf("sf0.01"), "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"),
      "unreferenced column must not be read:\n" + p.take(1000))
  }

  test("q113 distributed ANN: cell-keyed shuffle join, bounded-heap agg, no cartesian") {
    val e = Tables.load(spark, sf("sf0.01"), "embeddings")
    val p = graft.operators.ProductQuantization
      .ivfAdcTopKDistributed(e, e, 10)
      .queryExecution.executedPlan.toString
    // candidate generation must be the cell equi-join, never all-pairs
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "corpus-vs-corpus must stay cell-blocked:\n" + p.take(2000))
    // top-k is the typed bounded-heap aggregator (ObjectHashAggregate),
    // not a window sort over every scored candidate
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window"), "top-k must not be a window sort:\n" + p.take(2000))
    // the join keys on both sides are the cell column
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("recall gates: brute side broadcasts the 20-query probe set") {
    val p = plan("q111_ivf_recall")
    // both truth and approx build from a broadcast of the tiny query
    // side — a shuffle of the corpus against 20 queries would be wrong
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q118 PageRank: every iteration is an equi-join + partial agg, no cartesian") {
    val p = plan("q118_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "per-iteration contribution join must stay an equi-join:\n" + p.take(2000))
    // the groupBy(dst) aggregation must combine map-side
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("q119 bloom build: position distinct is a partial aggregation (bounded by m)") {
    val build = Tables.load(spark, sf("sf0.01"), "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("key"))
    // the build-side plan is what bounds the shuffle: distinct positions
    // combine map-side, so each task ships at most m ints
    val posPlan = {
      // mirror Bloom.build's plan without collecting
      import org.apache.spark.sql.functions.udf
      val posUdf = udf((x: java.lang.Long) => Array(0L)) // shape only
      build.select(explode(posUdf(col("key"))).as("pos")).distinct()
        .queryExecution.executedPlan.toString
    }
    assert(posPlan.contains("HashAggregate"), posPlan.take(2000))
    assert(posPlan.contains("Exchange hashpartitioning"), posPlan.take(2000))
  }

  test("q130 clustered read: both rectangle predicates are pushed to the parquet scan") {
    // the pruning theorem (LayoutSpec) only holds while the filters
    // reach the reader — a cast or wrapping expression that blocks
    // pushdown would silently turn the z layout back into a full scan.
    // plan toString elides PushedFilters at maxMetadataStringLength
    // (default 100 chars — the suppkey bounds fall off the end); widen
    // it for the assertion window
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val p = try plan("q130_zorder_prune")
      finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_partkey") &&
      p.contains("LessThanOrEqual(l_partkey"),
      "l_partkey range must push down:\n" + p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_suppkey") &&
      p.contains("LessThanOrEqual(l_suppkey"),
      "l_suppkey range must push down:\n" + p.take(2000))
  }

  test("q140: bucketed join shuffles NEITHER side — the only exchange is the final aggregation's") {
    val p = plan("q140_bucketed_join")
    assert(p.contains("SortMergeJoin"), p.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).length
    assert(exchanges == 1,
      s"bucketed join inputs must read pre-bucketed files without a shuffle " +
        s"(found $exchanges exchanges):\n" + p.take(3000))
  }

  test("q145: bucketed-edge PageRank never exchanges the edge side") {
    val p = plan("q145_bucketed_pagerank")
    assert(p.contains("Bucketed: true"),
      "edge scan must actually read buckets:\n" + p.take(2000))
    assert(p.contains("SortMergeJoin"), p.take(2000))
    // rank-side exchanges partition on node/dst; an edge-side exchange
    // would partition on src — there must be NONE anywhere in the
    // 4-iteration plan (the whole point of the bucketing)
    assert(!p.contains("Exchange hashpartitioning(src"),
      "edge side must read pre-bucketed with no shuffle:\n" + p.take(3000))
  }

  test("q147: AQE skew demo leaves no session-conf residue") {
    // the query tunes skew thresholds + autoBroadcastJoinThreshold=-1
    // around an EAGER run; a leak would silently de-broadcast (and so
    // slow) every later query in the session
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    // the in-query require() already proves OptimizeSkewedJoin fired
    val rows = SparkEntry.queries("q147_aqe_skew_join")(spark, sf("sf0.01"))
      .collect()
    assert(rows.nonEmpty)
    val after = keys.map(k => k -> spark.conf.getOption(k))
    assert(before == after, s"conf leak: $before vs $after")
  }

  test("q151: fused top-k is the bounded-heap aggregator, not a window sort") {
    val p = plan("q151_hybrid_rrf")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "fusion must aggregate with the typed top-k buffer:\n" + p.take(2000))
    // the FUSED ranking must not fall back to a per-query window sort
    // (the legs' own internal windows are their proven shapes)
    assert(!p.contains("RunningWindowFunction"), p.take(2000))
  }

  test("q46: full-index ADC top-k is the bounded-heap aggregator, not a window sort") {
    // r10's adcTopK window→heap swap must never regress: a per-query
    // window sort re-sorts EVERY scored (query, code) pair; the typed
    // aggregator keeps ≤ k rows per query per map task
    val p = plan("q46_pq_adc_topk")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "ADC top-k must aggregate with the typed top-k buffer:\n" + p.take(2000))
    assert(!p.contains("RunningWindowFunction") && !p.contains("row_number"),
      "ADC top-k must not fall back to a window sort:\n" + p.take(3000))
  }

  test("q162: semantic dedup pairs are cell-bucketed, never a cross product") {
    // the SemDeDup quadratic term must stay bounded by the largest cell:
    // the pair stage is an equi-join on cell — a regression to a
    // cartesian/nested-loop would score all n² pairs
    val p = plan("q162_semantic_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "intra-cell pairs must come from an equi-join on cell:\n" + p.take(3000))
  }

  test("q161: incremental-groups relabel map broadcasts against the registry") {
    // the touched-groups relabel map is batch-bounded — joining it
    // against the corpus-sized registry must be a broadcast, never a
    // shuffle of the registry on groupId
    val p = plan("q161_incremental_groups")
    assert(p.contains("BroadcastHashJoin"),
      "relabel join must broadcast the touched-groups map:\n" + p.take(3000))
  }

  test("q150: packing plans one exchange per shard window, no global sort") {
    val p = plan("q150_bpe_packing")
    // window partitioned by shard → hashpartitioning(shard); a GLOBAL
    // cumulative sum would show a single-partition Exchange/Sort
    assert(p.contains("Exchange hashpartitioning(shard"),
      "running sum must be sharded:\n" + p.take(2000))
    assert(!p.contains("Exchange SinglePartition"),
      "no global single-task window allowed:\n" + p.take(3000))
  }

  test("q159: lang predicate prunes at the PARTITION level, not row level") {
    val p = plan("q159_partition_prune")
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("\\s", "").matches("(?s).*PartitionFilters:\\[[^\\]]*lang[^\\]]*\\].*"),
      "lang must be a partition filter:\n" + p.take(2500))
    // and NOT a post-scan data filter — the directory layout does the work
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"),
      "lang must not fall back to a data filter:\n" + p.take(2500))
  }

  test("q160: the dim join injects a DYNAMIC partition-pruning filter") {
    val p = plan("q160_dynamic_partition_prune")
    assert(p.contains("dynamicpruning"),
      "fact scan must carry a dynamicpruning partition filter:\n" + p.take(3000))
  }

  test("q186/q190/q191: fingerprint pairing stays block-bucketed, never all-pairs") {
    import graft.operators.{AudioDedup, ImageDedup, Multimodal}
    val d = Tables.load(spark, sf("sf0.01"), "documents")
    val imgPairs = ImageDedup.hammingPairs(
        ImageDedup.fingerprints(Multimodal.dhashMedia(d)), 3)
      .queryExecution.executedPlan.toString
    assert(!imgPairs.contains("CartesianProduct") &&
      !imgPairs.contains("BroadcastNestedLoopJoin"),
      "image pairs must come from the (block, bv) equi-join:\n" + imgPairs.take(2000))
    val inc = ImageDedup.incrementalMatches(
        ImageDedup.fingerprints(Multimodal.dhashEpoch(d)),
        ImageDedup.fingerprints(Multimodal.dhashIncoming(d)), 3)
      .queryExecution.executedPlan.toString
    assert(!inc.contains("CartesianProduct") &&
      !inc.contains("BroadcastNestedLoopJoin"), inc.take(2000))
    val aud = AudioDedup.hammingPairs(
        AudioDedup.fingerprints(Multimodal.audioMedia(d)), 3)
      .queryExecution.executedPlan.toString
    assert(!aud.contains("CartesianProduct") &&
      !aud.contains("BroadcastNestedLoopJoin"), aud.take(2000))
  }

  test("q201/q202: pair manifest and video pairing stay bucketed, never all-pairs") {
    import graft.operators.{CrossModal, ImageDedup, VideoDedup, Multimodal}
    val d = Tables.load(spark, sf("sf0.01"), "documents")
    val vid = VideoDedup.incrementalMatches(
        VideoDedup.fingerprints(Multimodal.videoEpoch(d)),
        VideoDedup.fingerprints(Multimodal.videoIncoming(d)), 3)
      .queryExecution.executedPlan.toString
    assert(!vid.contains("CartesianProduct") &&
      !vid.contains("BroadcastNestedLoopJoin"),
      "video matches must come from the (block, bv) equi-join:\n" + vid.take(2000))
    val pm = CrossModal.pairManifest(d,
        ImageDedup.fingerprints(Multimodal.pairMedia(d)), nBatches = 16)
      .queryExecution.executedPlan.toString
    assert(!pm.contains("CartesianProduct") &&
      !pm.contains("BroadcastNestedLoopJoin"),
      "pair dedup is block-bucketed; negatives are a batch equi-join:\n" +
        pm.take(2000))
  }

  test("q200: the contamination probe joins per-cell, never corpus-wide") {
    val p = plan("q200_semantic_eval_contamination")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "eval docs must join only their own cell's members:\n" + p.take(2500))
  }

  test("q204/q206: count/line joins are equi-joins; only 1-row totals nest-loop") {
    val p = plan("q204_kneser_ney")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the 1-row T and G totals are the only nest-loops (the persisted
    // `scored` subtree shows twice pre-materialization, as in q188)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 3, s"$nlj nest-loops (want <= 3: T + G + cached dup):\n" +
      p.take(2500))
    val q = plan("q206_line_dedup")
    assert(!q.contains("CartesianProduct") &&
      !q.contains("BroadcastNestedLoopJoin"), q.take(2000))
    assert(!q.contains("Exchange SinglePartition"),
      "line reassembly must stay per-doc, no global funnel:\n" + q.take(2500))
  }

  test("q185: scoring is one feature aggregation + broadcast weight join, no window") {
    // classify() runs the (bounded) sample collect + driver fit while
    // BUILDING the frame — the plan under test is the distributed
    // scoring pass that remains
    val p = plan("q185_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      "the 65-row weight table must broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(2000))
  }

  test("q188: count joins are equi-joins; only 1-row totals nest-loop") {
    val p = plan("q188_trigram_backoff")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // two genuine 1-row crossJoins (the train-N total and the G totals);
    // the third occurrence is the persisted `scored` subtree inlined in
    // BOTH the totals branch and the scoring branch of the INSPECTED
    // plan — before materialization the cache shows as duplicated
    // subtrees, at runtime it computes once (CacheDisciplineSpec covers
    // the persist contract)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 3,
      s"only 1-row-total crossJoins may nest-loop, found $nlj:\n" + p.take(3000))
  }

  test("q218: DSIR lam joins broadcast, top-k is TakeOrdered, no cartesian") {
    val p = plan("q218_dsir_selection")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the per-doc score join against the ≤B-row lam table must broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // top-k must be a bounded heap, never a global Sort+Limit
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // only the 1-row totals crossJoins may nest-loop: T×R (two 1-row
    // aggregates combined) and the λ-table attach of that 1-row frame
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 2, s"found $nlj nest-loops:\n" + p.take(3000))
  }

  test("q223: priority-sample top-k is a bounded heap, no global sort") {
    val p = plan("q223_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the only acceptable global-sort surface is the 65-row window after
    // the Take — assert no Exchange feeds a Sort over the corpus scan
    // (the window's sort sees k+1 rows, the scan side must not sort)
    val sorts = "Sort \\[pri".r.findAllIn(p).size
    assert(sorts <= 1, s"corpus-side sort leaked into the plan:\n" + p.take(3000))
  }

  test("q222: eval grams broadcast — the 100-TB training side never builds a hash table") {
    val p = plan("q222_eval_contamination_report")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the probe join on gram must be broadcast, not a sort-merge over
    // the exploded training grams
    assert(!p.contains("SortMergeJoin [gram"), "training grams must not shuffle:\n" + p.take(3000))
  }

  test("q237: chunk retrieval — posting-list join, no cartesian, bounded rank window") {
    val p = plan("q237_chunk_rag_retrieval")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the chunk build is a narrow per-doc pass: no Exchange between the
    // scan and the explode (generator) stage feeding it — assert the
    // totals crossJoins are the only nest-loops
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 2, s"found $nlj nest-loops:\n" + p.take(3000))
  }

  test("q241: hybrid chunk retrieval — posting + band-bucket joins, no cartesian") {
    val p = plan("q241_hybrid_chunk_retrieval")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // lexical leg: posting-list equi-join; dense leg: band-bucket
    // equi-join + candidate re-attach — all hash joins, so the only
    // admissible nest-loops are the BM25 1-row-totals crossJoins
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 2, s"found $nlj nest-loops:\n" + p.take(3000))
    // queries (5 rows) and their vectors must broadcast, never shuffle
    // the chunk side against them with a sort-merge on qid
    assert(!p.contains("SortMergeJoin [qid"),
      "query-keyed join must broadcast:\n" + p.take(3000))
  }

  test("q239: boundary-aware packing — one shard shuffle, no global sort, no cartesian") {
    val p = plan("q239_boundary_aware_packing")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the packer's only wide op is the groupByKey on shard (+ the final
    // stats agg). mapGroups inserts a PARTITION-LOCAL sort on the 8-value
    // shard key ("Sort [...], false") — required clustering, constant
    // keys; what must never appear is a GLOBAL sort over doc rows
    // ("Sort [...], true" = a range-partitioned exchange)
    assert(!p.contains("], true, 0"), "global sort leaked into the plan:\n" + p.take(3000))
  }

  test("q242: incremental index — stats folds are unions + hash aggs, totals broadcast") {
    val p = plan("q242_incremental_bm25_index")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the 1-row totals attach is the only admissible nest-loop class
    // (epoch + batch totals, and the idf derivation)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 4, s"found $nlj nest-loops:\n" + p.take(3000))
  }

  test("q246: context assembly — two bounded qid windows over the fused top-k, no cartesian") {
    val p = plan("q246_rag_context_assembly")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 2, s"found $nlj nest-loops:\n" + p.take(3000))
  }

  test("q287: boilerplate strip — mined list broadcasts, no cartesian, no global sort") {
    val p = plan("q287_boilerplate_strip")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the strip-list (tiny by construction) must broadcast against the
    // positional fingerprints — shuffling the corpus's (id, pos, fp)
    // rows against a df-filtered agg would be the wrong direction
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the island merge windows are per-doc (partition-local sort);
    // a global sort = a range exchange over every hit row
    assert(!p.contains("], true, 0"),
      "global sort leaked into the plan:\n" + p.take(3000))
  }

  test("q288: semantic contamination — ONE broadcast probe pass, corpus never shuffles") {
    val p = plan("q288_semantic_contamination")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the eval side is deliberately a broadcast nested-loop (exact
    // probe over a tiny probe set); the only other admissible
    // nest-loops are the fixture's two 1-row × 1-row probe mixes
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 3, s"expected probe pass + 2 fixture mixes, found $nlj:\n" + p.take(3000))
    // no shuffle join anywhere: the corpus is scanned once; the only
    // wide op is the per-id flag aggregation
    assert(!p.contains("SortMergeJoin"),
      "corpus must not shuffle against the probes:\n" + p.take(3000))
  }

  test("q289: RM3 — posting-list equi-joins across both passes, no cartesian") {
    val p = plan("q289_rm3_expansion")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // admissible nest-loops: the BM25 1-row totals attaches (totals
    // build + idf attach + per-pass print of the cached contrib
    // subtree, which the pre-execution plan renders twice)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 8, s"found $nlj nest-loops:\n" + p.take(3000))
    // expansion selection must stay an anti-join on (qid, term), not a
    // per-row subquery
    assert(p.contains("LeftAnti"),
      "original-term exclusion must be an anti-join:\n" + p.take(3000))
  }

  test("q290: data card — every flag column is a keyed join, no cartesian") {
    val p = plan("q290_source_data_card")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the mined strip-list broadcasts into the carrier probe
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q291 ingest strip: the fused kernel plan is NARROW — zero exchanges") {
    // the streaming form's whole point: one stateless map per row, so
    // the batch plan of the same operator must contain no Exchange at
    // all (the strip-list rides the closure, not a join)
    val docs = Tables.load(spark, sf("sf0.01"), "documents")
      .select(col("doc_id"), col("text"))
    val p = graft.operators.Curation.stripBoilerplateAtIngest(
        docs, Array(1L, 2L, 3L), "doc_id", "text", 25, 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      "ingest strip must be a narrow per-row pass:\n" + p.take(2000))
  }

  test("q293: banded semantic — band-bucket equi-join candidates, no cartesian") {
    val p = plan("q293_banded_semantic_contamination")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // candidates come from the (band, bucket) hash join with the probe
    // side broadcast. Admissible nest-loops: the EXACT audit side's
    // single probe pass plus the 1-row×1-row fixture probe mixes,
    // which the pre-execution plan prints once per consumer (exact
    // probes, banded banding, banded vector attach) — the banded
    // candidate path itself contributes none
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 7, s"found $nlj nest-loops:\n" + p.take(3000))
  }

  test("q298: release build — anti-join drops, broadcast strip-list, no cartesian") {
    val p = plan("q298_release_build")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("LeftAnti"),
      "contamination drop must be an anti-join:\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q299: incremental card — stats maintenance is join-shaped, no cartesian") {
    val p = plan("q299_incremental_data_card")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("LeftAnti"),
      "deletion must be an anti-join over the stats:\n" + p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q300/q301: posting-list algebra — keyed joins only, no cartesian") {
    val p0 = plan("q300_phrase_match")
    assert(!p0.contains("CartesianProduct") &&
      !p0.contains("BroadcastNestedLoopJoin"),
      "phrase adjacency must be keyed equi-joins:\n" + p0.take(2000))
    val p1 = plan("q301_boolean_retrieval")
    assert(!p1.contains("CartesianProduct"), p1.take(2000))
    assert(p1.contains("LeftSemi") && p1.contains("LeftAnti"),
      "must/mustNot must be semi/anti joins over ids:\n" + p1.take(3000))
    // the top-k head must be a TakeOrdered (per-partition heaps), never
    // a global rank window over the full candidate set — a common must
    // term at scale would otherwise single-task-sort millions of rows
    assert(p1.contains("TakeOrderedAndProject"),
      "booleanTopK head must be TakeOrdered before the rank window:\n" +
        p1.take(3000))
  }

  test("q306/q307: maintained-index serve — anti-join deletes, no cartesian") {
    val p0 = plan("q306_positional_index_serve")
    assert(!p0.contains("CartesianProduct"), p0.take(2000))
    assert(p0.contains("LeftAnti"),
      "positional deletion must be an id anti-join:\n" + p0.take(3000))
    assert(!p0.contains("], true, 0"),
      "no global sort in the positional serve:\n" + p0.take(3000))
    val p1 = plan("q307_variant_index_maintenance")
    assert(!p1.contains("CartesianProduct"), p1.take(2000))
    assert(p1.contains("LeftAnti"),
      "dead-term removal must be an anti-join:\n" + p1.take(3000))
  }

  test("standingMatchAtIngest: stateless projection — no exchange, no join, no agg") {
    // matching is a per-row fact, so the plan must be scan → project;
    // any exchange/join/aggregate here would be a stateful operator on
    // the streaming path (q310 relies on Append-safety)
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "x y")).toDF("doc_id", "text")
    val p = graft.operators.Bm25.standingMatchAtIngest(docs, "doc_id",
        "text", Seq("a", "b"), Seq("x"), Seq("y"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Aggregate"),
      "standing-query matching must stay a stateless projection:\n" + p)
  }

  test("q311/q315: merge + percolate — keyed joins, no cartesian") {
    val p0 = plan("q311_index_shard_merge")
    assert(!p0.contains("CartesianProduct"), p0.take(2000))
    val p1 = plan("q315_percolator")
    assert(!p1.contains("CartesianProduct"), p1.take(2000))
    assert(!p1.contains("], true, 0"),
      "percolation must not global-sort:\n" + p1.take(3000))
  }

  test("q318/q319: merged-member + maintained-proximity serve — keyed joins only") {
    // merged members must serve phrase/fuzzy without cartesians or
    // global sorts (rank windows are partition-local), and the
    // maintained-proximity path must keep its anti-join deletes
    val p0 = plan("q318_merged_member_serve")
    assert(!p0.contains("CartesianProduct"), p0.take(2000))
    assert(!p0.contains("], true, 0"),
      "no global sort in merged-member serve:\n" + p0.take(3000))
    val p1 = plan("q319_proximity_from_maintained")
    assert(!p1.contains("CartesianProduct"), p1.take(2000))
    assert(p1.contains("LeftAnti"),
      "maintained-member deletion must be an id anti-join:\n" + p1.take(3000))
  }

  test("q320: phrase percolation — keyed joins, no cartesian, no global sort") {
    // candidate generation must be the routed term equi-join and the
    // verification a keyed (id, term, pos) semi-join — never all-pairs;
    // the only sorts are partition-local (routing window, agg sorts)
    val sq = spark; import sq.implicits._
    val idx = graft.operators.Bm25.registerStandingPhrases(
      Seq((1L, "a b c")).toDF("qid", "phrase_text"), "qid", "phrase_text")
    val docs = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val p = graft.operators.Bm25.percolatePhrases(idx, docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("], true, 0"),
      "phrase percolation must not global-sort:\n" + p.take(3000))
  }

  test("q316: streaming percolation — foreachBatch, ZERO stateful operators") {
    // percolation of a whole document is decidable inside its
    // micro-batch (a doc's terms arrive together in its one row), so
    // the streaming member must hold NO cross-batch state — the r17
    // re-shape away from an unbounded Complete-mode (doc, qid) store
    val sq = spark; import sq.implicits._
    val docs = Seq((1L, "alpha beta x"), (2L, "alpha y"),
      (3L, "beta gamma alpha")).toDF("doc_id", "text")
    val qs = Seq((10L, "alpha beta", null.asInstanceOf[String]))
      .toDF("qid", "must_text", "not_text")
    val idx = graft.operators.Bm25.registerStandingQueries(
      qs, "qid", "must_text", "not_text")
    val root = java.nio.file.Files.createTempDirectory("graft-q316-pin")
      .toString
    docs.repartition(2).write.mode("overwrite").parquet(s"$root/in")
    val schema = spark.read.parquet(s"$root/in").schema
    val matched = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in").writeStream
      .option("checkpointLocation", s"$root/chk")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        matched.addAndGet(graft.operators.Bm25
          .percolate(idx, b, "doc_id", "text").count()); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(matched.get() == 2L, s"docs 1 and 3 match: ${matched.get()}")
    assert(q.lastProgress.stateOperators.isEmpty,
      "percolation must run stateless per micro-batch:\n" +
        q.lastProgress.toString)
  }

  test("q302: snippets — cost bounded by the result set (semi-join before positions)") {
    val p = plan("q302_result_snippets")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("LeftSemi"),
      "positional postings must filter to result docs first:\n" + p.take(3000))
    // admissible nest-loops: the BM25 1-row totals attaches inside the
    // result-producing external chain, printed once per consumer of
    // the results frame by the pre-execution plan
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 8, s"found $nlj nest-loops:\n" + p.take(3000))
  }

  test("q254: deletion-aware index — anti/semi joins on id, no cartesian") {
    val p = plan("q254_deletion_aware_index")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // deletion must be join-shaped (anti on tf/dl), never a per-row
    // NOT IN subquery scan
    assert(p.contains("LeftAnti"), "tf/dl deletion must be an anti-join:\n" + p.take(3000))
    // admissible nest-loops: the 1-row totals attaches (epoch+batch,
    // delete delta, idf derivation)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 5, s"found $nlj nest-loops:\n" + p.take(3000))
  }

  test("q255: incremental ANN — cell equi-join on the folded index, no cartesian") {
    val p = plan("q255_incremental_ann_index")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // candidate generation is the cell-keyed join, never all-pairs;
    // top-k is the bounded-heap aggregate, not a per-query sort window
    assert(p.contains("topk"), "bounded-heap top-k missing:\n" + p.take(3000))
  }

  test("q258: balanced packing — bucket-partitioned prefix windows, no global doc sort") {
    val p = plan("q258_balanced_packing_shards")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the prefix sum must run as windows PARTITIONED by bucket (parallel),
    // plus the tiny cross-bucket offset fold; a GLOBAL range sort over doc
    // rows would be the one-task form this operator exists to avoid. The
    // offsets window is over <=256 one-per-bucket rows — its rangepartitioning
    // exchange is constant-size; what must never appear is a global sort keyed
    // on doc id.
    assert(!p.contains("rangepartitioning(id"),
      "global doc-id sort leaked into the prefix sum:\n" + p.take(3000))
  }

  test("q259: winnowing contamination — eval fingerprints broadcast, train side streams") {
    val p = plan("q259_winnowing_contamination")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the fp join must be a broadcast hash join (eval side small by
    // definition) — a sort-merge on fp would shuffle the full training
    // fingerprint stream
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin [fp"),
      "train fingerprints must not shuffle on fp:\n" + p.take(3000))
  }

  test("q266: leaked spans — eval grams broadcast, no cartesian, no global sort") {
    val p = plan("q266_leaked_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the positional gram match must be a broadcast hash join on the
    // 8-byte hash (eval side small by definition); the diagonal islands
    // windows cluster-sort per (pair, d) — never globally
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("], true, 0"),
      "no global sort in the islands fold:\n" + p.take(3000))
  }

  test("q267: two-stage re-rank — equi-joins only, bounded-heap head, queries broadcast") {
    val p = plan("q267_ann_rerank_topk")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "shortlist and re-rank joins must stay keyed:\n" + p.take(3000))
    // the exact stage re-attaches vectors via hash joins (query side
    // broadcast); the head is the typed bounded heap, not a window sort
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
  }

  test("q269: winnowing index probe — broadcast fp join, anti/semi maintenance joins") {
    val p = plan("q269_incremental_winnowing_index")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin [fp"),
      "index fingerprints must not shuffle on fp:\n" + p.take(3000))
  }

  test("q272: dup-candidate spans — candidate docs pruned before grams, no cartesian") {
    val p = plan("q272_dup_candidate_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("], true, 0"),
      "no global sort in the islands fold:\n" + p.take(3000))
  }

  test("q275/q277: residual serve path — cell equi-join, bounded-heap head, no cartesian") {
    Seq("q275_ivfpq_residual_topk", "q277_residual_index_cycle").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$n candidate generation must stay cell-keyed:\n" + p.take(2000))
      assert(p.contains("ObjectHashAggregate"),
        s"$n top-k must be the bounded heap:\n" + p.take(2000))
      assert(!p.contains("Window"),
        s"$n top-k must not be a window sort:\n" + p.take(2000))
    }
  }

  test("pipeline decrypt/gunzip are native expressions, not ScalaUDF") {
    graft.sources.SnapshotFixture.generate("/tmp/graft-fixture-plan",
      graft.sources.SnapshotFixture.defaultTopics(1, 5))
    val recs = graft.operators.SnapshotJob.records(spark,
      "/tmp/graft-fixture-plan", graft.sources.LocalKeyService)
    val p = recs.queryExecution.analyzed.toString
    assert(p.contains("aes_ctr_decrypt"), p.take(2000))
    assert(p.contains("gunzip"), p.take(2000))
    assert(!p.contains("UDF("), "crypto path must not be a ScalaUDF")
    // records are cut and parsed on bytes: no String decode, length
    // filter or Reader-fed from_json, and the explode's lines do not come
    // from split (the scan's file-name split is not on the record path)
    Seq("decode(", "length(", "from_json(").foreach { f =>
      assert(!p.contains(f), s"records plan must not contain $f\n" + p.take(3000))
    }
    val generators = recs.queryExecution.analyzed.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator.toString
    }
    assert(generators.nonEmpty && generators.forall(!_.contains("split(")),
      generators.mkString("\n"))
  }
}
