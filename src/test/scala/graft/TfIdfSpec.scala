package graft

import org.apache.spark.sql.functions._

import graft.operators.{DedupGroups, TfIdf}

class TfIdfSpec extends SparkSuite {
  import spark.implicits._

  test("tf-idf: rare terms outweigh common ones; self-similarity is 1") {
    val docs = Seq(
      (1L, "spark spark spark zebra"),
      (2L, "spark flink"),
      (3L, "spark beam"),
      (4L, "spark flink beam")).toDF("doc_id", "text")
    val w = TfIdf.weights(docs, "doc_id", "text").cache()
    val byTerm = w.filter(col("id") === 1L)
      .select(col("term"), col("tfidf")).as[(String, Double)].collect().toMap
    // zebra appears in 1/4 docs, spark in 4/4 — idf must rank zebra higher
    // per-occurrence; doc 1 has tf(spark)=3 so compare unit weights
    assert(byTerm("zebra") > byTerm("spark") / 3)
    // identical docs → cosine 1 (exact form requested explicitly: with 2
    // docs every shared term has df=2 and the default 0.5 cutoff — the
    // safe-at-scale default — would prune them all)
    val twin = Seq((10L, "alpha beta gamma"), (11L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val sim = TfIdf.pairSimilarity(TfIdf.weights(twin, "doc_id", "text"),
        maxDfRatio = 1.0)
      .select("sim").as[Double].head()
    assert(math.abs(sim - 1.0) < 1e-9)
    // the default prunes df > N/2 stop terms: same twin corpus yields no
    // pairs at all — exact cosine is opt-in, not the default blow-up path
    assert(TfIdf.pairSimilarity(TfIdf.weights(twin, "doc_id", "text"))
      .isEmpty)
  }

  test("tf-idf topK only pairs docs sharing a term (inverted-index shape)") {
    val docs = Seq(
      (1L, "apples oranges"),
      (2L, "oranges pears"),
      (3L, "cars trucks")).toDF("doc_id", "text")
    // maxDfRatio=1.0: this test is about the pairing shape, and at 3 docs
    // the default 0.5 cutoff would prune the one shared term (df=2)
    val top = TfIdf.topK(TfIdf.weights(docs, "doc_id", "text"), 5, maxDfRatio = 1.0)
    val qids = top.select("qid").as[Long].collect().toSet
    assert(!qids.contains(3L)) // no shared terms → no candidate pairs at all
    assert(top.filter(col("qid") === 1L).select("nid").as[Long].collect()
      .toSet == Set(2L))
  }

  test("connected components: A~B, B~C land in one group with min-id label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB")
    val groups = DedupGroups.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L)
    assert(groups(10L) == 10L && groups(11L) == 10L)
  }

  test("transitive dedup collapses chains the greedy rule also catches, plus closure") {
    val docs = Tables.load(spark, sf("sf0.001"), "documents").limit(50)
    // chain: original → copy → copy-of-copy (one extra token each)
    val c1 = docs.withColumn("doc_id", col("doc_id") + 1000L)
      .withColumn("text", concat(col("text"), lit(" aaa")))
    val c2 = docs.withColumn("doc_id", col("doc_id") + 2000L)
      .withColumn("text", concat(col("text"), lit(" aaa bbb")))
    val corpus = docs.unionByName(c1).unionByName(c2)
    val kept = DedupGroups.dedupeTransitive(corpus, "doc_id", "text", 0.7)
    val ids = kept.select("doc_id").as[Long].collect().toSet
    // every chain collapses to its original (others transitively linked)
    assert(ids.count(_ >= 1000L) < 20,
      s"${ids.count(_ >= 1000L)} chain copies survived")
    assert((0L until 50L).toSet.subsetOf(ids) ||
      ids.intersect((0L until 50L).toSet).size >= 45)
  }

  test("shard merge of every lexical member == the union-corpus build") {
    import graft.operators.Bm25
    // disjoint doc ids; 'beta'/'gamma' live in both shards (df sums,
    // identical variant rows dedup), 'delta'/'zeta' in one each
    val a = Seq((1L, "alpha beta gamma beta"), (2L, "beta delta"))
      .toDF("doc_id", "text")
    val b = Seq((3L, "gamma beta zeta"), (4L, "eta")).toDF("doc_id", "text")
    val whole = a.unionByName(b)
    val (sa, sb) = (Bm25.indexStats(a, "doc_id", "text"),
      Bm25.indexStats(b, "doc_id", "text"))
    val merged = Bm25.mergeIndexStats(sa, sb)
    val full = Bm25.indexStats(whole, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    for ((name, m, f) <- Seq(("tf", merged.tf, full.tf),
        ("dl", merged.dl, full.dl), ("df", merged.df, full.df),
        ("totals", merged.totals, full.totals),
        ("pos", Bm25.positionalPostings(a, "doc_id", "text").unionByName(
          Bm25.positionalPostings(b, "doc_id", "text")),
          Bm25.positionalPostings(whole, "doc_id", "text")),
        ("vi", Bm25.mergeVariantIndex(Bm25.variantIndex(sa.df),
          Bm25.variantIndex(sb.df)), Bm25.variantIndex(full.df))))
      assert(rows(m.select(f.columns.map(col): _*)) == rows(f),
        s"merged $name differs from the union-corpus build")
    assert(rows(merged.df).contains("beta|3"), rows(merged.df).toString)
  }
}

class Bm25Spec extends SparkSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("BM25: hand-computed integer scores, saturation ordering, self exclusion") {
    // N = 4 docs, T = 9 tokens; df(apple) = 3 (docs 0, 1, 3);
    // idf_micro(apple) = round(ln(10/7)*1e6) = 356675.
    // query doc 3 = {apple}; candidates 0 (tf 1, dl 2) and 1 (tf 2, dl 3):
    //   den(0) = 20*9*1 + 6*9 + 18*2*4 = 378 -> round(356675*396/378) = 373660
    //   den(1) = 20*9*2 + 6*9 + 18*3*4 = 630 -> round(356675*792/630) = 448391
    val docs = Seq(
      (0L, "apple banana"), (1L, "apple apple cherry"),
      (2L, "banana banana banana"), (3L, "apple")).toDF("doc_id", "text")
    val got = graft.operators.Bm25.topK(docs, "doc_id", "text",
        col("id") === 3L, k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.toSeq == Seq((3L, 1L, 1L, 448391L), (3L, 2L, 0L, 373660L)),
      s"hand-computed BM25 ranking: ${got.toSeq}")
    // doc 2 shares no query term and doc 3 (self) is excluded
    assert(!got.exists(r => r._3 == 2L || r._3 == 3L))
    // determinism
    val again = graft.operators.Bm25.topK(docs, "doc_id", "text",
        col("id") === 3L, k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(again.toSeq == got.toSeq)
  }

  test("BM25 query-at-ingest: external query retrieves its source, index stats are the epoch's") {
    val docs = Seq(
      (1L, "quantum entanglement research paper about bell inequalities"),
      (2L, "cooking recipes for pasta and pizza and risotto tonight"),
      (3L, "gardening tips tomatoes cucumbers and other summer vegetables"))
      .toDF("doc_id", "text")
    val queries = Seq((901L, "quantum entanglement bell inequalities"))
      .toDF("qid", "qtext")
    val got = graft.operators.Bm25.topKExternal(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.head == ((901L, 1L, 1L, got.head._4)), got.toSeq.toString)
    // docs sharing no query term are never scored (posting-list shape)
    assert(got.forall(_._3 == 1L), got.toSeq.toString)
    // external qids are a SEPARATE key space — no self-exclusion on this
    // path (round-14 advice: a corpus doc whose id collides with a
    // caller's qid must not silently vanish from its ranking). An
    // external query whose qid equals an epoch doc id ranks that doc
    // like any other — here the query IS doc 1's text, so doc 1 tops
    // its own ranking, and the non-self tail equals the pred-based path
    // (which DOES self-exclude, being an in-corpus query).
    val viaPred = graft.operators.Bm25.topK(docs, "doc_id", "text",
        col("id") === 1L, k = 3)
      .as[(Long, Long, Long, Long)].collect().map(r => (r._3, r._4)).toMap
    val external = graft.operators.Bm25.topKExternal(docs, "doc_id", "text",
        docs.filter(col("doc_id") === 1L)
          .select(col("doc_id").as("qid"), col("text").as("qtext")),
        "qid", "qtext", k = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(external.head._3 == 1L,
      s"qid==corpus-id must still retrieve the doc itself: ${external.toSeq}")
    val tail = external.filter(_._3 != 1L).map(r => (r._3, r._4)).toMap
    assert(tail == viaPred, s"$tail vs $viaPred")
  }

  test("BM25 incremental upsert == full recompute, including brand-new batch terms") {
    import graft.operators.Bm25
    val epoch = Seq(
      (1L, "quantum entanglement research paper about bell inequalities"),
      (2L, "cooking recipes for pasta and pizza and risotto tonight"),
      (3L, "gardening tips tomatoes cucumbers and other summer vegetables"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (4L, "quantum cooking fusion cuisine experiments"), // shared terms: df bumps
      (5L, "zymurgy kombucha fermentation"))              // all-new terms: df union
      .toDF("doc_id", "text")
    val queries = Seq(
      (901L, "quantum entanglement"),
      (902L, "zymurgy fermentation")) // rankable only if the upsert folded new terms
      .toDF("qid", "qtext")
    val up = Bm25.upsertIndexStats(
      Bm25.indexStats(epoch, "doc_id", "text"), batch, "doc_id", "text")
    val full = Bm25.indexStats(epoch.unionByName(batch), "doc_id", "text")
    def rank(s: Bm25.IndexStats) =
      Bm25.topKExternalStats(s, queries, "qid", "qtext", k = 5)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val incr = rank(up)
    assert(incr == rank(full), "incremental stats must score identically to full recompute")
    // the new-term query finds exactly the new doc
    assert(incr.filter(_._1 == 902L).map(_._3) == Seq(5L), incr.toString)
    // idf DRIFTED for the shared term: doc 4's arrival changes df(quantum),
    // so 901's scores against the upserted index differ from the epoch-only
    // index — the reason contributions re-derive instead of being stored
    val epochOnly = Bm25.topKExternalStats(
        Bm25.indexStats(epoch, "doc_id", "text"), queries, "qid", "qtext", k = 5)
      .as[(Long, Long, Long, Long)].collect()
      .filter(r => r._1 == 901L && r._3 == 1L).map(_._4)
    val after = incr.filter(r => r._1 == 901L && r._3 == 1L).map(_._4)
    assert(epochOnly.nonEmpty && after.nonEmpty && epochOnly.head != after.head,
      s"df growth must move the idf: $epochOnly vs $after")
  }

  test("BM25 removeIndexStats: delete == recompute, df rows drop at 0, unknown ids are no-ops") {
    import graft.operators.Bm25
    val corpus = Seq(
      (1L, "quantum entanglement research paper about bell inequalities"),
      (2L, "cooking recipes for pasta and pizza and risotto tonight"),
      (3L, "gardening tips tomatoes cucumbers and other summer vegetables"),
      (4L, "quantum cooking fusion cuisine experiments"))
      .toDF("doc_id", "text")
    val queries = Seq((901L, "quantum entanglement cooking"))
      .toDF("qid", "qtext")
    val deleted = Seq(4L, 999L).toDF("doc_id") // 999 never indexed
    val pruned = Bm25.removeIndexStats(
      Bm25.indexStats(corpus, "doc_id", "text"), deleted, "doc_id")
    val full = Bm25.indexStats(
      corpus.filter(col("doc_id") =!= 4L), "doc_id", "text")
    def rank(s: Bm25.IndexStats) =
      Bm25.topKExternalStats(s, queries, "qid", "qtext", k = 5)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(rank(pruned) == rank(full),
      "delete must score identically to a recompute over the survivors")
    // terms only doc 4 carried must DROP from df, not linger at 0
    val dfTerms = pruned.df.as[(String, Long)].collect().toMap
    assert(!dfTerms.contains("fusion") && !dfTerms.contains("cuisine"),
      s"df must drop rows reaching 0: ${dfTerms.keys.toSeq.sorted}")
    assert(dfTerms("quantum") == 1L && dfTerms("cooking") == 1L,
      "shared terms decrement, not vanish")
    assert(dfTerms.values.forall(_ > 0))
    // totals shrink by exactly doc 4's contribution
    val (t, n) = pruned.totals.as[(Long, Long)].collect().head
    assert(n == 3L && t == full.totals.as[(Long, Long)].collect().head._1)
  }

  test("BM25 hard negatives: the query's dup group is excluded, ranks re-densify") {
    // query 1 has an exact twin 11 (same group); docs 2, 3 share terms
    // with the query but sit in their own groups → true negatives
    val docs = Seq(
      (1L, "apple banana cherry durian elderberry fig grape"),
      (11L, "apple banana cherry durian elderberry fig grape"),
      (2L, "apple banana cherry melon papaya lime kiwi"),
      (3L, "apple orange peach plum mango guava lychee")).toDF("doc_id", "text")
    val groups = Seq((1L, 1L), (11L, 1L), (2L, 2L), (3L, 3L))
      .toDF("id", "group_id")
    val negs = graft.operators.Bm25.hardNegatives(docs, "doc_id", "text",
        col("id") === 1L, groups, k = 5)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    // plain BM25 would rank the twin #1 — hardNegatives must drop it
    val plain = graft.operators.Bm25.topK(docs, "doc_id", "text",
        col("id") === 1L, k = 1).as[(Long, Long, Long, Long)].collect()
    assert(plain.head._3 == 11L, s"twin must top plain BM25: ${plain.toSeq}")
    assert(!negs.exists(_._3 == 11L), s"twin leaked into negatives: ${negs.toSeq}")
    // ranks are dense over the survivors, scores ordered
    assert(negs.map(_._2).toSeq == (1L to negs.length).toSeq)
    assert(negs.map(_._3).toSet == Set(2L, 3L))
    assert(negs.sliding(2).forall(p => p.length < 2 || p(0)._4 >= p(1)._4))
  }

  test("RM3: expansion retrieves a doc sharing NO original query term") {
    // query doc 1 = {apple, banana}; docs 2/3 match it and both carry
    // "cherry" → cherry tops the relevance model and joins the query;
    // doc 4 contains ONLY cherry (+ filler), so plain BM25 can never
    // score it for this query but the RM3 pass must.
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple banana cherry orchard notes"),
      (3L, "apple banana cherry harvest diary"),
      (4L, "cherry cherry cherry preserves recipe"),
      (5L, "unrelated walrus thermodynamics lecture")).toDF("doc_id", "text")
    val plain = graft.operators.Bm25.topK(docs, "doc_id", "text",
        col("id") === 1L, k = 10)
      .as[(Long, Long, Long, Long)].collect()
    assert(!plain.exists(_._3 == 4L),
      s"doc 4 shares no query term — plain BM25 must not see it: ${plain.toSeq}")
    val rm3 = graft.operators.Bm25.rm3TopK(docs, "doc_id", "text",
        col("id") === 1L, kFeedback = 2, mExpand = 3, k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(rm3.exists(_._3 == 4L),
      s"RM3 expansion must pull in the cherry-only doc: ${rm3.toSeq}")
    assert(!rm3.exists(r => r._3 == 1L || r._3 == 5L),
      s"self excluded; doc sharing neither query nor expansion terms absent: ${rm3.toSeq}")
    // ranks dense, scores non-increasing, deterministic re-run
    assert(rm3.map(_._2).toSeq == (1L to rm3.length).toSeq)
    assert(rm3.sliding(2).forall(p => p.length < 2 || p(0)._4 >= p(1)._4))
    val again = graft.operators.Bm25.rm3TopK(docs, "doc_id", "text",
        col("id") === 1L, kFeedback = 2, mExpand = 3, k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(again.toSeq == rm3.toSeq)
  }

  test("phraseMatches: adjacency not bag-of-words; occurrence counts") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "beta alpha gamma"),          // both words, wrong order
      (3L, "x alpha beta y alpha beta"), // two occurrences
      (4L, "alpha only here")).toDF("doc_id", "text")
    val got = graft.operators.Bm25.phraseMatches(docs, "doc_id", "text",
        Seq("alpha", "beta"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 3L -> 2L),
      s"order matters and occurrences count: $got")
  }

  test("booleanTopK: must is AND, mustNot excludes, should only boosts") {
    val docs = Seq(
      (1L, "aa bb filler words here"),
      (2L, "aa bb cc filler words"),
      (3L, "aa missing the second term"),
      (4L, "aa bb nn poisoned doc")).toDF("doc_id", "text")
    val got = graft.operators.Bm25.booleanTopK(docs, "doc_id", "text",
        must = Seq("aa", "bb"), should = Seq("cc"), mustNot = Seq("nn"),
        k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).toSet == Set(1L, 2L),
      s"doc 3 fails must, doc 4 hits mustNot: ${got.toSeq}")
    val byId = got.map(r => r._2 -> r).toMap
    assert(byId(2L)._3 == 1L && byId(1L)._3 == 0L, "n_should visible")
    assert(byId(2L)._1 == 1L,
      s"the should term's contribution must rank doc 2 first: ${got.toSeq}")
  }

  test("snippets: densest window wins, ties to the earliest start") {
    val docs = Seq(
      (1L, "hit a b c d hit hit e f g h i j k l m n o p q r s t u v w"))
      .toDF("doc_id", "text")
    val results = Seq((900L, 1L)).toDF("qid", "id")
    val qterms = Seq((900L, "hit")).toDF("qid", "term")
    val got = graft.operators.Bm25.snippets(docs, "doc_id", "text",
        results, qterms, windowTokens = 3)
      .as[(Long, Long, Long, Long, String)].collect()
    // hits at 0, 5, 6; 3-token windows anchored at hits: [0..2]=1,
    // [5..7]=2, [6..8]=1 → best start 5 with 2 hits
    assert(got.toSeq == Seq((900L, 1L, 5L, 2L, "hit hit e")), got.toSeq)
  }

  test("proximityTopK: adjacency outranks scattered bag-of-words ties") {
    // docs 2 and 3 have IDENTICAL tf/dl for both query terms — base
    // BM25 cannot separate them; only proximity can
    val docs = Seq(
      (1L, "aa bb"),
      (2L, "aa bb x1 x2 x3 x4"),
      (3L, "aa x1 x2 x3 x4 bb")).toDF("doc_id", "text")
    val got = graft.operators.Bm25.proximityTopK(docs, "doc_id", "text",
        col("id") === 1L, k = 10)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.map(_._3).toSeq == Seq(2L, 3L),
      s"adjacent pair must outrank the scattered one: ${got.toSeq}")
    val byId = got.map(r => r._3 -> r).toMap
    assert(byId(2L)._5 == 500000L, s"mindist 1 → 1e6 DIV 2: ${byId(2L)}")
    assert(byId(3L)._5 == 166666L, s"mindist 5 → 1e6 DIV 6: ${byId(3L)}")
    assert(byId(2L)._4 - byId(2L)._5 == byId(3L)._4 - byId(3L)._5,
      "base BM25 components must be identical — only the bonus differs")
  }

  test("fuzzy matching: delete-1 variants, OSA≤1 semantics, 2-edit rejection") {
    val variants = spark.range(1)
      .select(graft.operators.Bm25.delete1Variants(lit("abc")).as("v"))
      .as[Seq[String]].collect().head.toSet
    assert(variants == Set("abc", "bc", "ac", "ab"), variants.toString)
    val docs = Seq(
      (1L, "prefix correctterm suffix"),
      (2L, "nothing relevant here at all")).toDF("doc_id", "text")
    def run(q: String) = graft.operators.Bm25.fuzzyTopK(docs, "doc_id",
        "text", Seq((900L, q)).toDF("qid", "qtext"), "qid", "qtext", 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(run("correctterm").map(_._3) == Seq(1L), "exact matches")
    assert(run("corectterm").map(_._3) == Seq(1L), "deletion typo matches")
    assert(run("correctterms").map(_._3) == Seq(1L), "insertion typo matches")
    assert(run("corretcterm").map(_._3) == Seq(1L),
      "adjacent transposition matches (OSA/Damerau semantics)")
    assert(run("cXrrectXerm").isEmpty, "two substitutions must NOT match")
  }

  test("fuzzy verify: equal-length shifted pairs (OSA distance 2) rejected") {
    // 'stop'/'tops' share delete-1 variant 'top' and pass the ±1 length
    // rule, but OSA('stop','tops') = 2 — the post-join osaLe1 verify
    // must reject the pair (the r16 advisory counterexample).
    val docs = Seq(
      (1L, "stop abcd zz"),
      (2L, "filler text here")).toDF("doc_id", "text")
    def run(q: String) = graft.operators.Bm25.fuzzyTopK(docs, "doc_id",
        "text", Seq((900L, q)).toDF("qid", "qtext"), "qid", "qtext", 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(run("tops").isEmpty, "shifted pair stop/tops must NOT match")
    assert(run("bcde").isEmpty, "shifted pair abcd/bcde must NOT match")
    assert(run("stpo").map(_._3) == Seq(1L),
      "true adjacent transposition still matches")
    val sug = graft.operators.Bm25.didYouMean(docs, "doc_id", "text",
        Seq((900L, "tops")).toDF("qid", "qtext"), "qid", "qtext", 3)
      .as[(Long, String, Long, String, Long)].collect().toSeq
    assert(!sug.exists(_._4 == "stop"),
      s"didYouMean must not suggest a distance-2 shift: $sug")
  }

  test("positional index fold == rebuild; serve equals corpus form") {
    import spark.implicits._
    val epoch = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta gamma"),
      (3L, "alpha beta gamma")).toDF("doc_id", "text")
    val batch = Seq(
      (4L, "alpha beta gamma epsilon"),
      (5L, "unrelated words")).toDF("doc_id", "text")
    val deleted = Seq(3L, 4L).toDF("doc_id")
    val bm = graft.operators.Bm25
    val maintained = bm.removePositional(
      bm.upsertPositional(bm.positionalPostings(epoch, "doc_id", "text"),
        batch, "doc_id", "text"),
      deleted, "doc_id")
    val survivors = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta gamma"),
      (5L, "unrelated words")).toDF("doc_id", "text")
    val rebuilt = bm.positionalPostings(survivors, "doc_id", "text")
    val m = maintained.as[(Long, Long, String)].collect().sorted.toSeq
    val r = rebuilt.as[(Long, Long, String)].collect().sorted.toSeq
    assert(m == r, "positional fold must equal the survivor recompute")
    // serve parity: the From form over the maintained frame == the
    // corpus form over the survivors (and the rarest-term anchor
    // choice cannot change the result — 'beta' is commonest here)
    val a = bm.phraseMatchesFrom(maintained, Seq("beta", "gamma"))
      .as[(Long, Long)].collect().sorted.toSeq
    val b = bm.phraseMatches(survivors, "doc_id", "text",
        Seq("beta", "gamma")).as[(Long, Long)].collect().sorted.toSeq
    assert(a == b && a.map(_._1) == Seq(1L, 2L), s"$a vs $b")
  }

  test("variant index fold == rebuild; dead terms stop suggesting") {
    import spark.implicits._
    val epoch = Seq(
      (1L, "zxsingular common"),
      (2L, "zxsingulars common"),
      (3L, "common filler")).toDF("doc_id", "text")
    val batch = Seq((4L, "zxbrandnew common")).toDF("doc_id", "text")
    val bm = graft.operators.Bm25
    val s0 = bm.indexStats(epoch, "doc_id", "text")
    val vi0 = bm.variantIndex(s0.df)
    val s1 = bm.upsertIndexStats(s0, batch, "doc_id", "text")
    val vi1 = bm.maintainVariantIndex(vi0, s0.df, s1.df)
    val s2 = bm.removeIndexStats(s1, Seq(1L).toDF("doc_id"), "doc_id")
    val vi2 = bm.maintainVariantIndex(vi1, s1.df, s2.df)
    val folded = vi2.as[(String, String)].collect().sorted.toSeq
    val rebuilt = bm.variantIndex(s2.df).as[(String, String)]
      .collect().sorted.toSeq
    assert(folded == rebuilt, "variant fold must equal rebuild from df")
    assert(!folded.exists(_._1 == "zxsingular"),
      "a term whose df hit 0 must leave the variant index")
    assert(folded.exists(_._1 == "zxbrandnew"),
      "a born term must enter the variant index")
    val sug = bm.didYouMeanFrom(vi2, s2.df,
        Seq((9L, "zxsingularz")).toDF("qid", "qtext"), "qid", "qtext", 3)
      .as[(Long, String, Long, String, Long)].collect().toSeq
    assert(sug.map(_._4) == Seq("zxsingulars"),
      s"only the live plural may suggest: $sug")
  }

  test("standingMatchAtIngest: phrase edges, boolean semantics, short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pp qq tail"),            // phrase at doc START
      (2L, "head pp qq"),            // phrase at doc END
      (3L, "pp qq pp qq"),           // two occurrences
      (4L, "pp x qq"),               // broken adjacency
      (5L, "m1 m2 ok"),              // boolean match
      (6L, "m1 m2 bad nn"),          // must-not kills it
      (7L, "m1 only"),               // missing a must
      (8L, "pp")).                   // shorter than the phrase
      toDF("doc_id", "text")
    val got = graft.operators.Bm25.standingMatchAtIngest(docs, "doc_id",
        "text", Seq("pp", "qq"), Seq("m1", "m2"), Seq("nn"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == 1 && byId(2L)._2 == 1 && byId(3L)._2 == 2 &&
      byId(4L)._2 == 0 && byId(8L)._2 == 0,
      s"phrase counts wrong: $got")
    assert(byId(5L)._5 == 1 && byId(6L)._5 == 0 && byId(7L)._5 == 0,
      s"boolean verdicts wrong: $got")
    assert(byId(6L)._3 == 2 && byId(6L)._4 == 1,
      "must count and has_not must both report")
  }

  test("applyCdcBatch: I/U/D fold == recompute over the net corpus") {
    import spark.implicits._
    val epoch = Seq(
      (1L, "alpha beta"),
      (2L, "beta gamma"),
      (3L, "gamma delta")).toDF("doc_id", "text")
    val cdc = Seq(
      ("U", 2L, "beta gamma revised"),
      ("I", 4L, "epsilon new"),
      ("D", 3L, null.asInstanceOf[String])).toDF("op", "doc_id", "text")
    val bm = graft.operators.Bm25
    val folded = bm.applyCdcBatch(
      bm.indexStats(epoch, "doc_id", "text"), cdc, "doc_id", "text", "op")
    val net = Seq(
      (1L, "alpha beta"),
      (2L, "beta gamma revised"),
      (4L, "epsilon new")).toDF("doc_id", "text")
    val want = bm.indexStats(net, "doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    assert(rows(folded.tf) == rows(want.tf), "tf fold diverged")
    assert(rows(folded.dl) == rows(want.dl), "dl fold diverged")
    assert(rows(folded.df) == rows(want.df), "df fold diverged")
    assert(rows(folded.totals) == rows(want.totals), "totals diverged")
  }

  test("percolator: conjunction, exclusion, weight bound, contradictions") {
    import spark.implicits._
    val bm = graft.operators.Bm25
    val queries = Seq(
      (1L, "alpha beta", null),
      (2L, "alpha", "nogo"),
      (3L, "alpha", "alpha"),      // contradictory: can never match
      (4L, "alpha gamma", "gamma")) // contradiction BESIDE another must:
      // n_must counts gamma too, so a doc with alpha but no gamma
      // cannot reach it (the r17-advice bug let it)
      .toDF("qid", "must_text", "not_text")
    val idx = bm.registerStandingQueries(queries, "qid", "must_text",
      "not_text")
    val docs = Seq(
      (10L, "alpha beta rest"),   // q1 + q2
      (11L, "alpha only here"),   // q2
      (12L, "alpha beta nogo"),   // q1 (q2 excluded by nogo)
      (13L, "beta without the a") // nothing
    ).toDF("doc_id", "text")
    val got = bm.percolate(idx, docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (10L, 2L), (11L, 2L), (12L, 1L)),
      s"percolation wrong: $got")
    // the contradictory alerts never match anything — including q4
    // against docs carrying alpha WITHOUT gamma (10, 11, 12)
    assert(!got.exists(r => r._2 == 3L || r._2 == 4L))
    // weight bound: a doc repeating a must term many times still
    // counts it ONCE (distinct terms), so the -2^20 exclusion can
    // never be cancelled by positives
    val spam = Seq((20L, ("alpha " * 50) + "nogo")).toDF("doc_id", "text")
    val spamGot = bm.percolate(idx, spam, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(spamGot.isEmpty,
      s"spam doc lacks beta (q1) and carries nogo (q2): $spamGot")
  }

  test("phrase percolator: adjacency, repeats, routing on absent/rare terms") {
    import spark.implicits._
    val bm = graft.operators.Bm25
    val queries = Seq(
      (1L, "big red fox"),   // plain phrase
      (2L, "go stop go"),    // repeated term at two offsets
      (3L, "red fox"),       // suffix of q1's phrase
      (4L, "qqq red fox"))   // qqq absent from every doc — never matches
      .toDF("qid", "phrase_text")
    val idx = bm.registerStandingPhrases(queries, "qid", "phrase_text")
    val docs = Seq(
      (10L, "the big red fox runs"),        // q1, q3
      (11L, "big red FOX big red fox"),     // q1 ×2 (case-folds), q3 ×2
      (12L, "red big fox"),                 // words present, order wrong
      (13L, "go stop go stop go"),          // q2 ×2 (overlapping anchors)
      (14L, "red fox only"))                // q3
      .toDF("doc_id", "text")
    val got = bm.percolatePhrases(idx, docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 1L, 1L), (10L, 3L, 1L), (11L, 1L, 2L),
      (11L, 3L, 2L), (13L, 2L, 2L), (14L, 3L, 1L)),
      s"phrase percolation wrong: $got")
  }

  test("didYouMean: df-ranked distance-1 suggestions, self excluded") {
    val docs = Seq(
      (1L, "cat cot dog"), (2L, "cat dog"), (3L, "cat bird"),
      (4L, "unrelated words entirely")).toDF("doc_id", "text")
    // query 'cut': distance-1 vocab = cat (df 3), cot (df 1)
    val got = graft.operators.Bm25.didYouMean(docs, "doc_id", "text",
        Seq((900L, "cut cat")).toDF("qid", "qtext"), "qid", "qtext", 3)
      .as[(Long, String, Long, String, Long)].collect().sortBy(r => (r._2, r._3))
    val forCut = got.filter(_._2 == "cut").map(r => (r._4, r._5)).toSeq
    assert(forCut == Seq(("cat", 3L), ("cot", 1L)),
      s"df ranks cat above cot: $got")
    // the correctly-spelled 'cat' never suggests itself
    assert(!got.exists(r => r._2 == "cat" && r._4 == "cat"), got.toSeq)
  }

  test("RM3 external: separate qid key space, no self-exclusion, same recall lift") {
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple banana cherry orchard notes"),
      (3L, "apple banana cherry harvest diary"),
      (4L, "cherry cherry cherry preserves recipe")).toDF("doc_id", "text")
    // qid 2 COLLIDES with a corpus id — the external contract says doc 2
    // must still appear in its own ranking (no self-exclusion)
    val queries = Seq((2L, "apple banana")).toDF("qid", "qtext")
    val got = graft.operators.Bm25.rm3TopKExternal(docs, "doc_id", "text",
        queries, "qid", "qtext", kFeedback = 2, mExpand = 3, k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.exists(_._3 == 2L),
      s"colliding qid must not drop corpus doc 2: ${got.toSeq}")
    assert(got.exists(_._3 == 4L),
      s"expansion must still pull the cherry-only doc: ${got.toSeq}")
    assert(got.map(_._2).toSeq == (1L to got.length).toSeq)
  }
}
